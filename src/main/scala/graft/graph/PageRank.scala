package graft.graph

import graft.Op
import graft.util.Fixpoint
import graft.util.Fixpoint.Until
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** PageRank, 10 fixed iterations, damping 0.85, dangling mass
  * redistributed uniformly; [[runPersonalized]] is the same loop with
  * teleport and dangling mass returned to one source node.
  *
  * Oracle parity trick: the only order-sensitive float op in PageRank
  * is the per-node sum of incoming contributions. We cast each
  * contribution to DECIMAL(28,15) before summing (exact, associative)
  * and cast the sum back to double, so Spark's partial aggregation and
  * DuckDB's single-threaded fold produce bit-identical ranks — the
  * oracle is a mechanically unrolled 10-iteration SQL.
  *
  * Scale: rank and out-degree stay partitioned on node; each iteration
  * is one shuffle join (ranks ⋈ edges) + one aggregation; the dangling
  * mass is a 1-row DataFrame cross-joined (broadcast) rather than a
  * driver collect.
  */
object PageRank {
  private val D = 0.85

  def run(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val n = nodes.count().toDouble
    iterate(nodes, edges, iters, lit(1.0) / lit(n), lit(0.15) / lit(n), _ / lit(n))
  }

  /** Personalized PageRank: teleport AND dangling mass return to the
    * source node instead of spreading uniformly — the "nodes related
    * to X" query a graph database serves for recommendations. Same
    * decimal-exact contraction as [[run]].
    */
  def runPersonalized(nodes: DataFrame, edges: DataFrame, source: Int,
      iters: Int): DataFrame = {
    val atSource = col("node") === source
    iterate(nodes, edges, iters, when(atSource, lit(1.0)).otherwise(lit(0.0)),
      when(atSource, lit(0.15)).otherwise(lit(0.0)),
      dm => when(atSource, dm).otherwise(lit(0.0)))
  }

  /** The one iteration loop of both forms: each node starts at
    * `seedRank` and each round takes `teleport + D * (s + share(dm))`,
    * with `s` its decimal-exact contribution sum and `dm` the dangling
    * nodes' total rank. The callers' columns are the exact expressions
    * the oracles unroll, so ranks stay bit-identical.
    */
  private def iterate(nodes: DataFrame, edges: DataFrame, iters: Int, seedRank: Column,
      teleport: Column, share: Column => Column): DataFrame =
    // The edge table is partitioned on the join key once and kept
    // resident (Fixpoint.resident), and the out-degree column RIDES IN
    // THE ITERATED STATE instead of being re-joined every round — one union + merge aggregation per
    // iteration (contribution rows carry a null outdeg, state rows a
    // null contribution; max/sum ignore nulls) replaces the old
    // ranks⋈outDeg join + contribution aggregate + nodes⋈contribs
    // join. The decimal contribution sum is unchanged addend-for-
    // addend, so ranks stay bit-identical to the unrolled oracle.
    Fixpoint.resident(edges.select(col("src"), col("dst")).distinct(), "src") { e =>
      val dec = DecimalType(28, 15)
      // With no dangling nodes the redistribution term is identically
      // +0.0 (bit-neutral on non-negative ranks), so skip its per-
      // iteration aggregate+broadcast entirely — one upfront count,
      // riding the seed state's checkpoint job, instead of 10
      // broadcast jobs.
      val (seed, nDangling) = Fixpoint.checkpointWithCount(
        nodes.join(
            e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg")),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("outdeg"),
            seedRank.as("rank")),
        col("outdeg") === 0)
      val hasDangling = nDangling > 0
      Fixpoint.iterate(seed, Until.Rounds, iters) { (state, _) =>
        val carried = state.select(col("node"), col("outdeg"),
          lit(null).cast(dec).as("c"))
        val contribs = state.filter(col("outdeg") > 0)
          .join(e, col("node") === e("src"))
          .select(e("dst").as("node"), lit(null).cast("long").as("outdeg"),
            (col("rank") / col("outdeg")).cast(dec).as("c"))
        // Confine the merged state to nodes of `nodes`: an edge dst
        // absent from `nodes` has only contribution rows (null outdeg),
        // so max(outdeg) is null exactly for unknown endpoints — without
        // the filter they would leak into the iterated state and the
        // final output with undefined rank semantics (r16 ADVICE). For
        // edges ⊆ nodes (every registered caller) this drops no row.
        val merged = carried.unionAll(contribs)
          .groupBy(col("node"))
          .agg(max(col("outdeg")).as("outdeg"),
            sum(col("c")).cast("double").as("s"))
          .filter(col("outdeg").isNotNull)
        if (hasDangling) {
          val dangling = state.filter(col("outdeg") === 0)
            .agg(coalesce(sum(col("rank").cast(dec)).cast("double"), lit(0.0)).as("dm"))
          merged.crossJoin(broadcast(dangling))
            .select(col("node"), col("outdeg"),
              (teleport + lit(D) * (coalesce(col("s"), lit(0.0)) + share(col("dm")))).as("rank"))
        } else {
          merged.select(col("node"), col("outdeg"),
            (teleport + lit(D) * coalesce(col("s"), lit(0.0))).as("rank"))
        }
      }._1.select(col("node"), col("rank"))
    }

  private def g09(s: SparkSession, dir: String): DataFrame =
    run(TradeGraph.nodes(s, dir), TradeGraph.edgesTable(s, dir), iters = 10)
      .orderBy(col("node"))

  private def g16(s: SparkSession, dir: String): DataFrame =
    runPersonalized(TradeGraph.nodes(s, dir), TradeGraph.edgesTable(s, dir),
      source = 0, iters = 10)
      .orderBy(col("node"))

  /** Unrolled PPR oracle — g09's shape with source-concentrated
    * teleport/dangling terms. The +0.0 dangling add on non-source
    * nodes is bit-neutral, matching the Spark side's CASE.
    */
  private def g16Sql: String = {
    val iters = (1 to 10).map { k =>
      val p = if (k == 1) "r0" else s"r${k - 1}"
      s"""
    c$k AS MATERIALIZED (
      SELECT e.dst AS node,
        CAST(SUM(CAST(p.rank / od.outdeg AS DECIMAL(28,15))) AS DOUBLE) AS s
      FROM $p p
      JOIN od ON od.node = p.node AND od.outdeg > 0
      JOIN dedges e ON e.src = p.node
      GROUP BY e.dst),
    d$k AS MATERIALIZED (
      SELECT CAST(COALESCE(SUM(CAST(p.rank AS DECIMAL(28,15))), 0) AS DOUBLE) AS dm
      FROM $p p JOIN od ON od.node = p.node AND od.outdeg = 0),
    r$k AS MATERIALIZED (
      SELECT n.node,
        CASE WHEN n.node = 0 THEN CAST(0.15 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
          + CAST(0.85 AS DOUBLE) * (COALESCE(c.s, CAST(0 AS DOUBLE))
            + CASE WHEN n.node = 0 THEN d.dm ELSE CAST(0 AS DOUBLE) END) AS rank
      FROM nodes n
      LEFT JOIN c$k c ON c.node = n.node
      CROSS JOIN d$k d)"""
    }.mkString(",")
    s"""
    WITH ${GraphSql.edgesCte}, ${GraphSql.nodesCte},
    dedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
    od AS MATERIALIZED (
      SELECT n.node, COALESCE(o.c, 0) AS outdeg
      FROM nodes n LEFT JOIN
        (SELECT src, count(*) AS c FROM dedges GROUP BY src) o ON o.src = n.node),
    r0 AS MATERIALIZED (
      SELECT node, CASE WHEN node = 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS rank
      FROM nodes),
    $iters
    SELECT node, rank FROM r10 ORDER BY node"""
  }

  /** Unrolled 10-iteration oracle — same decimal-exact contraction.
    * CTEs are MATERIALIZED: DuckDB would otherwise inline r{k-1} twice
    * per iteration (contribs + dangling), exponentially expanding the
    * plan.
    */
  private def g09Sql: String = {
    val iters = (1 to 10).map { k =>
      val p = if (k == 1) "r0" else s"r${k - 1}"
      s"""
    c$k AS MATERIALIZED (
      SELECT e.dst AS node,
        CAST(SUM(CAST(p.rank / od.outdeg AS DECIMAL(28,15))) AS DOUBLE) AS s
      FROM $p p
      JOIN od ON od.node = p.node AND od.outdeg > 0
      JOIN dedges e ON e.src = p.node
      GROUP BY e.dst),
    d$k AS MATERIALIZED (
      SELECT CAST(COALESCE(SUM(CAST(p.rank AS DECIMAL(28,15))), 0) AS DOUBLE) AS dm
      FROM $p p JOIN od ON od.node = p.node AND od.outdeg = 0),
    r$k AS MATERIALIZED (
      SELECT n.node,
        CAST(0.15 AS DOUBLE) / nn.nd
          + CAST(0.85 AS DOUBLE) * (COALESCE(c.s, CAST(0 AS DOUBLE)) + d.dm / nn.nd) AS rank
      FROM nodes n
      LEFT JOIN c$k c ON c.node = n.node
      CROSS JOIN d$k d CROSS JOIN nn)"""
    }.mkString(",")
    s"""
    WITH ${GraphSql.edgesCte}, ${GraphSql.nodesCte},
    dedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS nd FROM nodes),
    od AS MATERIALIZED (
      SELECT n.node, COALESCE(o.c, 0) AS outdeg
      FROM nodes n LEFT JOIN
        (SELECT src, count(*) AS c FROM dedges GROUP BY src) o ON o.src = n.node),
    r0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) / nn.nd AS rank FROM nodes CROSS JOIN nn),
    $iters
    SELECT node, rank FROM r10 ORDER BY node"""
  }

  val ops: Seq[Op] = Seq(
    Op("g09_pagerank", g09, Some(g09Sql)),
    Op("g16_personalized_pagerank", g16, Some(g16Sql)))
}
