package graft.graph

import graft.Op
import graft.functions.Hash32
import graft.util.Fixpoint
import graft.util.Fixpoint.Until
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** g29: pivot-sampled betweenness centrality (Brandes 2001; pivot
  * estimation per Brandes & Pich 2007) — the classic centrality the
  * g-family lacked (degree g02, closeness g14/g20, PageRank g09 exist;
  * betweenness ranks BROKERS, the nodes shortest paths route through,
  * which none of those see). Runs on the preferred-partner bipartite
  * graph (g26/g27's substrate — the full trade graph is complete at
  * every shipped SF, so its betweenness is identically zero; the
  * best-partner subgraph is sparse, deep, and SF-scaling).
  *
  * Estimator: K deterministic pivots (smallest [[Hash32]] of the node
  * id — the q19 bottom-k-by-hash move, so both engines pick the
  * identical set), one hop-bounded BFS per pivot run BATCHED as a
  * single frame keyed by pivot, Brandes' backward dependency
  * accumulation, then bc(v) = (n/K) * Σ_pivots δ_p(v). Hop bound
  * [[Betweenness.HOPS]] makes it k-bounded betweenness (Borgatti
  * 2006's "bounded-distance betweenness") AND gives the oracle a
  * fixed unroll depth — the g09/t18/t21 unrollable-fixed-iterations
  * shape.
  *
  * Determinism (§4): path counts σ are exact BIGINTs (integer sums —
  * partial-agg order free). The dependency recurrence
  * δ(u) += σ_u/σ_v · (1 + δ(v)) divides, so δ is carried in FIXED
  * POINT at scale 1e9 with integer (truncating) division — Spark
  * `div` and DuckDB `//` agree bit-for-bit on non-negative BIGINTs,
  * and every sum stays integral. Doubles appear only in the final
  * display column, through the same BIGINT→DOUBLE cast both engines
  * define identically. The quantization (≤1e-9 per edge per level) is
  * part of the operator's definition, not noise.
  *
  * Scale shape: state is (pivots × reached nodes) — K bounds it, the
  * published trade (exact Brandes is O(V·E) time and V²-ish state;
  * pivot sampling is THE practical form at scale). Each level is one
  * frontier ⋈ edges join + a map-side-combining σ-sum + an anti-join
  * (forward), or two keyed joins + a δ-sum (backward) — all
  * hash-uniform on (pivot, node), nothing driver-sized (each level's
  * size comes from the job that checkpoints it). At 100 TB: K grows
  * as accuracy demands, not with |V|.
  */
object Betweenness {
  /** Pivot budget: bc is summed over this many BFS sources. */
  private[graft] val PIVOTS = 16

  /** Hop bound — also the oracle's fixed unroll depth. */
  private[graft] val HOPS = 8

  /** Fixed-point scale for the dependency values δ. */
  private val SCALE = 1000000000L

  private def g29(s: SparkSession, dir: String): DataFrame = {
    // the preferred-partner selection (two corpus-pair window passes)
    // is the expensive prelude, so the symmetric edge list materializes
    // ONCE per (session, corpus) — the d04/d18 shared-table move; the
    // BFS machinery below re-reads a tiny parquet
    // the 16 forward/backward level joins all probe this table on src:
    // partitioned once and resident for the query
    val symTable = graft.util.MatStore.table(s, s"prefsym:$dir", "graft_prefsym") {
      val sel = Traversals.prefSel(s, dir)
      val bi = sel.select((col("cust") * 2).as("src"), (col("supp") * 2 + 1).as("dst"))
      // bipartite parity (even ⊕ odd) means the two directions can
      // never collide, so no distinct is needed on the symmetric view
      bi.unionAll(bi.select(col("dst").as("src"), col("src").as("dst")))
    }
    val (gnodes, deltas, deepest) = Fixpoint.resident(symTable, "src") { sym =>
      val gnodes = sym.select(col("src").as("node")).distinct().localCheckpoint()
      val pivots = Hash32.withH32(gnodes, "bw", col("node"))
        .orderBy(col("h32"), col("node")).limit(PIVOTS)
        .select(col("node").as("p")).localCheckpoint()

      // forward: batched BFS — levels(d) = (p, node, sigma) for nodes
      // first reached at hop d, sigma = exact shortest-path count; a
      // round whose level is empty ends the pass
      val levels = new Array[DataFrame](HOPS + 1)
      // the graph is UNDIRECTED, so a neighbor of a level-(d-1) node sits
      // at level d-2, d-1, or d: the first-visit anti-join only needs the
      // previous TWO levels, not the whole visited set — the per-round
      // exchange stays wavefront-sized instead of growing cumulatively
      // (the values are identical; the oracle keeps the cumulative form)
      val (lastLevel, deepest) = Fixpoint.iterate(
          pivots.select(col("p"), col("p").as("node"), lit(1L).as("sigma")),
          Until.Empty(lit(true)), HOPS) { (prev, d) =>
        levels(d - 1) = prev
        val seen =
          if (d >= 2) prev.select(col("p"), col("node"))
            .unionAll(levels(d - 2).select(col("p"), col("node")))
          else prev.select(col("p"), col("node"))
        prev.join(sym, col("node") === col("src"))
          .groupBy(col("p"), col("dst"))
          .agg(sum(col("sigma")).as("sigma"))
          .withColumnRenamed("dst", "node")
          .join(seen, Seq("p", "node"), "left_anti")
      }
      levels(deepest) = lastLevel

      // backward: Brandes dependency accumulation in fixed point, level
      // d reading only level d+1 (shortest-path DAG edges are strictly
      // level-increasing); it stops at level 1, since bc excludes the
      // pivots' own level 0
      val e = sym.select(col("src").as("esrc"), col("dst").as("edst"))
      val deltas = new Array[DataFrame](deepest + 1)
      val (level1, _) = Fixpoint.iterate(
          levels(deepest).select(col("p"), col("node"), col("sigma"), lit(0L).as("delta")),
          Until.Rounds, math.max(deepest - 1, 0)) { (belowLevel, r) =>
        val lvl = deepest - r
        deltas(lvl + 1) = belowLevel
        val below = belowLevel.select(col("p").as("bp"), col("node").as("bnode"),
          col("sigma").as("bsigma"), col("delta").as("bdelta"))
        levels(lvl)
          .join(e, col("node") === col("esrc"), "left")
          .join(below,
            col("bp") === col("p") && col("bnode") === col("edst"), "left")
          .groupBy(col("p"), col("node"), col("sigma"))
          .agg(coalesce(sum(expr(s"sigma * ($SCALE + bdelta) div bsigma")), lit(0L))
            .as("delta"))
      }
      if (deepest > 0) deltas(1) = level1
      (gnodes, deltas, deepest)
    }
    // bc excludes each pivot's own source row (level 0); a node never
    // reached by any pivot scores 0. The pivots are the first PIVOTS
    // of the distinct nodes.
    val n = gnodes.count().toDouble
    val k = math.min(PIVOTS.toDouble, n)
    val acc =
      if (deepest == 0) gnodes.limit(0)
        .select(col("node"), lit(0L).as("bc_fp0"))
      else (1 to deepest).map(deltas(_).select(col("node"), col("delta")))
        .reduce(_ unionAll _)
        .groupBy(col("node")).agg(sum(col("delta")).as("bc_fp0"))
    gnodes.join(acc, Seq("node"), "left")
      .select(col("node"), coalesce(col("bc_fp0"), lit(0L)).as("bc_fp"))
      .withColumn("bc_est",
        (col("bc_fp").cast("double") / lit(1e9)) * (lit(n) / lit(k)))
      .orderBy(col("node"))
  }

  private lazy val g29Sql: String = {
    val fwd = (1 to HOPS).map { i =>
      s"""f$i AS MATERIALIZED (
      SELECT f.p, e.dst AS node, CAST(SUM(f.sigma) AS BIGINT) AS sigma
      FROM f${i - 1} f JOIN sym e ON e.src = f.node
      WHERE NOT EXISTS (SELECT 1 FROM c${i - 1} c
        WHERE c.p = f.p AND c.node = e.dst)
      GROUP BY f.p, e.dst),
    c$i AS MATERIALIZED (
      SELECT p, node FROM c${i - 1} UNION ALL SELECT p, node FROM f$i)"""
    }.mkString(",\n    ")
    val bwd = (0 until HOPS).reverse.map { i =>
      s"""b$i AS MATERIALIZED (
      SELECT u.p, u.node, u.sigma,
        CAST(COALESCE(SUM(u.sigma * ($SCALE + b.delta) // b.sigma), 0) AS BIGINT)
          AS delta
      FROM f$i u
      LEFT JOIN sym e ON e.src = u.node
      LEFT JOIN b${i + 1} b ON b.p = u.p AND b.node = e.dst
      GROUP BY u.p, u.node, u.sigma)"""
    }.mkString(",\n    ")
    val union = (1 to HOPS).map(i => s"SELECT node, delta FROM b$i")
      .mkString(" UNION ALL ")
    s"""
    WITH ${GraphSql.prefCtes},
    bi AS (SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM sel),
    sym AS MATERIALIZED (
      SELECT src, dst FROM bi UNION ALL SELECT dst AS src, src AS dst FROM bi),
    gnodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
    piv AS MATERIALIZED (
      SELECT node AS p FROM (
        SELECT node, ${Hash32.h32Duck("'bw' || CAST(node AS VARCHAR)")} AS h
        FROM gnodes)
      ORDER BY h, node LIMIT $PIVOTS),
    f0 AS (SELECT p, p AS node, CAST(1 AS BIGINT) AS sigma FROM piv),
    c0 AS (SELECT p, node FROM f0),
    $fwd,
    b$HOPS AS (SELECT p, node, sigma, CAST(0 AS BIGINT) AS delta FROM f$HOPS),
    $bwd,
    acc AS (
      SELECT node, CAST(SUM(delta) AS BIGINT) AS bc_fp0
      FROM ($union) GROUP BY node),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM gnodes),
    kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM piv)
    SELECT g.node, CAST(COALESCE(a.bc_fp0, 0) AS BIGINT) AS bc_fp,
      (CAST(COALESCE(a.bc_fp0, 0) AS DOUBLE) / 1e9) * (nn.n / kk.k) AS bc_est
    FROM gnodes g LEFT JOIN acc a ON a.node = g.node, nn, kk
    ORDER BY g.node"""
  }

  val ops: Seq[Op] = Seq(
    Op("g29_betweenness", g29, Some(g29Sql)))
}
