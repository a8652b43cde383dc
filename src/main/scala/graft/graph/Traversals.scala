package graft.graph

import scala.collection.mutable

import graft.Op
import graft.util.{Fixpoint, Par}
import graft.util.Fixpoint.Until
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.LocalRelationBridge
import org.apache.spark.sql.types._

/** Frontier-join traversals: the Spark re-expression of the
  * reference's BFS (secondary_server.c:503-537, level order) and DFS
  * terminal-node query (secondary_server.c:166-180), plus transitive
  * closure, closeness and shortest paths.
  *
  * Every data-dependent loop here is one [[Fixpoint.frontier]] over a
  * [[Fixpoint.resident]] edge table; each operator supplies only its
  * expansion (frontier ⋈ edges → candidates tagged with the round) and
  * its merge aggregate. The merge is `state ∪ candidates` under a
  * map-side-combining `min` per key: an already-settled row keeps its
  * smaller tag, a changed row takes the round's, so the next frontier
  * is exactly `tag === round`. One union + groupBy per round replaces
  * a distinct + anti-join + union cascade: two exchanges per round
  * (frontier into the join, the min-combine), and the edge table is
  * never re-shuffled. On a cluster AQE broadcasts the frontier once it
  * shrinks below the threshold. `unfoldPaths`' pointer-doubling walk
  * has no frontier and runs on [[Fixpoint.iterate]].
  *
  * The exception is the reference's own request. GraphX pays a
  * scheduling cost per iteration of its join chain too, and on a
  * 30-vertex graph that cost is the whole request: a round measured
  * about 0.33 s on a 4-core host, 0.2 s of it driver gap between jobs
  * and 0.02 s executor CPU. So [[bfsLevels]] (and [[reachableFrom]])
  * over an edge table Spark would broadcast anyway runs one collect
  * and a driver-side BFS instead. Over a local input, such as a small
  * [[GraphStore]] version's read, that collect is answered from the
  * driver's own rows, so the driver path runs no Spark job at all.
  */
object Traversals {

  /** (node, dist) for every node within `maxHops` of `source`; dist is
    * the first-visit hop, so `min(dist)` keeps a visited node's row.
    *
    * Two paths, one result. An integer-keyed edge table that passes
    * [[graft.util.Par.broadcastSized]] (every reference graph, N ≤ 30,
    * and the 25-nation trade graph) is collected once and walked level
    * by level on the driver: the frontier path's broadcast join
    * collects the same table in every round, so this is one job
    * instead of about 3.5 per hop, and none over a local relation.
    * Any other table runs [[Fixpoint.frontier]] rounds over a resident
    * edge table.
    *
    * The driver path returns a local relation with the frontier path's
    * rows and schema: the schema is that of the analysis of the same
    * round ([[bfsRound]]; the seed's own when no round runs), memoized
    * per key types and nullability, an edge with a null `src` is never
    * followed, and a null `dst` yields one `(null, hop)` row, as the
    * join and the `min` merge do.
    */
  def bfsLevels(edges: DataFrame, source: Int, maxHops: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    if (e.schema.forall(f => integralKeys(f.dataType)) && Par.broadcastSized(e))
      bfsOnDriver(e, source, maxHops)
    else Fixpoint.resident(e, "src") { r =>
      Fixpoint.frontier(seed(e.sparkSession, source), "dist", maxHops)((visited, front, hop) =>
        bfsRound(visited, front, r, hop))._1
    }
  }

  private def seed(s: SparkSession, source: Int): DataFrame = {
    import s.implicits._
    Seq((source, 0)).toDF("node", "dist")
  }

  /** One frontier round of [[bfsLevels]]: reach the frontier's
    * out-neighbours and keep each node's smallest hop.
    */
  private def bfsRound(visited: DataFrame, front: DataFrame, e: DataFrame, hop: Int): DataFrame =
    visited.unionAll(front.join(e, front("node") === e("src"))
        .select(e("dst").as("node"), lit(hop).as("dist")))
      .groupBy(col("node")).agg(min(col("dist")).as("dist"))

  private val integralKeys: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)

  // The frontier path's output schema, per (whether a round runs, the
  // edge keys' types and nullability): the analysis of one round, or
  // the seed's own schema when none runs. At most 2 × 8 × 8 entries.
  private val driverSchemas =
    new java.util.concurrent.ConcurrentHashMap[(Boolean, Seq[(DataType, Boolean)]), StructType]()

  /** [[bfsLevels]] over one collect of an integer-keyed `e`. Keys are
    * compared as longs, exactly as the round's join compares them after
    * widening, and written back in the node column's widened type.
    */
  private def bfsOnDriver(e: DataFrame, source: Int, maxHops: Int): DataFrame = {
    val schema = driverSchemas.computeIfAbsent((maxHops > 0, e.schema.map(f => f.dataType -> f.nullable)),
      _ => {
        val s = seed(e.sparkSession, source)
        if (maxHops > 0) bfsRound(s, s, e, 1).schema else s.schema
      })
    val longNodes = schema("node").dataType == LongType
    def node(v: Long): Any = if (longNodes) Long.box(v) else Int.box(v.toInt)
    val get = e.schema.map(f => InternalRow.getAccessor(f.dataType))
    def key(r: InternalRow, i: Int): Option[Long] =
      Option(get(i)(r, i)).map(_.asInstanceOf[Number].longValue)
    val adj = Par.collectRows(e, "Traversals.bfsLevels").toSeq
      .flatMap(r => key(r, 0).map(_ -> key(r, 1)))
      .groupMap(_._1)(_._2)
    val dist = mutable.LinkedHashMap(source.toLong -> 0)
    var nullDist = Option.empty[Int]
    var front = Seq(source.toLong)
    var hop = 0
    while (front.nonEmpty && hop < maxHops) {
      hop += 1
      front = front.flatMap(adj.getOrElse(_, Nil)).flatMap {
        case None => nullDist = nullDist.orElse(Some(hop)); None
        case Some(v) if !dist.contains(v) => dist(v) = hop; Some(v)
        case _ => None
      }
    }
    val rows = dist.map { case (v, d) => InternalRow(node(v), d) } ++ nullDist.map(InternalRow(null, _))
    LocalRelationBridge.frame(e.sparkSession, schema, rows.toSeq)
  }

  /** Nodes reachable from `source` (source included): [[bfsLevels]]
    * without a hop cap.
    */
  def reachableFrom(edges: DataFrame, source: Int): DataFrame =
    bfsLevels(edges, source, Int.MaxValue).select(col("node"))

  /** BFS level order from nation 0, capped at 6 hops (reference op 4). */
  private def g03(s: SparkSession, dir: String): DataFrame =
    bfsLevels(TradeGraph.edgesTable(s, dir), source = 0, maxHops = 6)
      .orderBy(col("node"))

  private val g03Sql = s"""
    WITH RECURSIVE ${GraphSql.edgesCte},
    bfs(node, d) AS (
      SELECT CAST(0 AS INTEGER), CAST(0 AS INTEGER)
      UNION
      SELECT e.dst, CAST(bfs.d + 1 AS INTEGER)
      FROM bfs JOIN edges e ON e.src = bfs.node
      WHERE bfs.d < 6)
    SELECT node, CAST(MIN(d) AS INTEGER) AS dist
    FROM bfs GROUP BY node ORDER BY node"""

  /** BFS level order from the busiest hub (max out-degree, smallest-id
    * tie-break) — the reference client passes an ARBITRARY start node
    * to its traversals (client.c:23-29), so the parameterized source
    * path ([[bfsLevels]]'s `source`) must be oracle-checked on a
    * non-zero source too, not only exercised by specs. The source is
    * data-derived and deterministic so the DuckDB oracle rederives the
    * identical node; the driver-side `head()` is one scalar (argmax),
    * not graph-sized state.
    */
  private def g22(s: SparkSession, dir: String): DataFrame = {
    val e = TradeGraph.edgesTable(s, dir)
    val hub = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src")).head().getInt(0)
    bfsLevels(e, source = hub, maxHops = 6).orderBy(col("node"))
  }

  private val g22Sql = s"""
    WITH RECURSIVE ${GraphSql.edgesCte},
    hub AS (
      SELECT src FROM edges GROUP BY src
      ORDER BY count(*) DESC, src LIMIT 1),
    bfs(node, d) AS (
      SELECT src, CAST(0 AS INTEGER) FROM hub
      UNION
      SELECT e.dst, CAST(bfs.d + 1 AS INTEGER)
      FROM bfs JOIN edges e ON e.src = bfs.node
      WHERE bfs.d < 6)
    SELECT node, CAST(MIN(d) AS INTEGER) AS dist
    FROM bfs GROUP BY node ORDER BY node"""

  /** Reachable terminal (sink) nodes on the DAG view from nation 0 —
    * the deterministic re-expression of the reference's DFS
    * deepest-node output (reference op 3; SURVEY.md §6).
    */
  private def g04(s: SparkSession, dir: String): DataFrame =
    reachableSinks(TradeGraph.dagEdges(TradeGraph.edgesTable(s, dir)).localCheckpoint(), 0)
      .orderBy(col("node"))

  /** (node) for every node reachable from `source` over `edges` that
    * has no out-edge: the DFS-terminal answer of g04 and g23.
    */
  private[graft] def reachableSinks(edges: DataFrame, source: Int): DataFrame = {
    val reach = reachableFrom(edges, source)
    reach.join(edges.select(col("src")).distinct(), reach("node") === col("src"), "left_anti")
      .select(col("node"))
  }

  private val g04Sql = s"""
    WITH RECURSIVE ${GraphSql.edgesCte}, ${GraphSql.dagCte},
    reach(node) AS (
      SELECT CAST(0 AS INTEGER)
      UNION
      SELECT e.dst FROM reach r JOIN dag e ON e.src = r.node)
    SELECT node FROM reach
    WHERE node NOT IN (SELECT src FROM dag)
    ORDER BY node"""

  /** Reachable terminal (sink) nodes from the busiest DAG hub — g04's
    * DFS-terminal semantics with a DATA-DERIVED non-zero source,
    * closing the same parity gap for reference op 3 that g22 closes
    * for op 4 (the reference client passes an arbitrary start to both
    * traversals, client.c:23-29). The hub is the max-out-degree DAG
    * source with smallest-id tie-break, so the DuckDB oracle
    * rederives the identical node; the driver-side `head()` is one
    * scalar (argmax), not graph-sized state.
    */
  private def g23(s: SparkSession, dir: String): DataFrame = {
    val dag = TradeGraph.dagEdges(TradeGraph.edgesTable(s, dir)).localCheckpoint()
    val hub = dag.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src")).head().getInt(0)
    reachableSinks(dag, hub).orderBy(col("node"))
  }

  private val g23Sql = s"""
    WITH RECURSIVE ${GraphSql.edgesCte}, ${GraphSql.dagCte},
    hub AS (
      SELECT src FROM dag GROUP BY src
      ORDER BY count(*) DESC, src LIMIT 1),
    reach(node) AS (
      SELECT src FROM hub
      UNION
      SELECT e.dst FROM reach r JOIN dag e ON e.src = r.node)
    SELECT node FROM reach
    WHERE node NOT IN (SELECT src FROM dag)
    ORDER BY node"""

  /** Directed transitive-closure pairs (root, node): root reaches node
    * via ≥1 edge. Frontier loop — all sources advance together, so the
    * hop count (not the source count) bounds the number of shuffles.
    * O(V·reach) output: the documented exact envelope shared by g07
    * and g24 (g18's FM-sketch is the registered linear-state scale
    * path for reach COUNTS; closure-pair consumers at 100 TB bound the
    * root set instead).
    */
  private def closurePairs(edges: DataFrame): DataFrame =
    Fixpoint.resident(edges.select(col("src"), col("dst")), "src") { e =>
      Fixpoint.frontier(
        e.select(col("src").as("root"), col("dst").as("node"), lit(0).as("tag"))
          .groupBy(col("root"), col("node")).agg(min(col("tag")).as("tag")),
        "tag") { (pairs, front, hop) =>
        pairs.unionAll(front.join(e, front("node") === e("src"))
            .select(front("root"), e("dst").as("node"), lit(hop).as("tag")))
          .groupBy(col("root"), col("node")).agg(min(col("tag")).as("tag"))
      }._1
    }.select(col("root"), col("node"))

  private def g07(s: SparkSession, dir: String): DataFrame = {
    val edges = TradeGraph.edgesTable(s, dir)
      .select(col("src"), col("dst")).localCheckpoint()
    val pairs = closurePairs(edges)
    val verts = TradeGraph.nodes(s, dir)
    verts.join(pairs, verts("node") === pairs("root"), "left")
      .groupBy(verts("node"))
      .agg(count(pairs("root")).as("n_reachable"))
      .orderBy(verts("node"))
  }

  private val g07Sql = s"""
    WITH RECURSIVE ${GraphSql.edgesCte}, ${GraphSql.nodesCte},
    r(root, nd) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.root, e.dst FROM r JOIN edges e ON e.src = r.nd)
    SELECT n.node, count(r.root) AS n_reachable
    FROM nodes n LEFT JOIN r ON r.root = n.node
    GROUP BY n.node ORDER BY n.node"""

  /** Strongly connected components of the DIRECTED trade graph — the
    * directed-graph census g05/g11 (undirected CC) can't answer: two
    * nations are in one SCC iff trade flows both ways, possibly
    * transitively. Labels are deterministic by construction: scc_id(v)
    * = min(v, min{u : u⇄v mutually reachable}), computed as the
    * closure-pair set intersected with its own transpose — same
    * [[closurePairs]] machinery and the same documented exact envelope
    * as g07 (the mutual-pair set is one self-join of the closure on
    * the flipped key pair, hash-uniform). At cluster scale the
    * pair-set closure gives way to pivot-based forward-backward
    * decomposition — BUILT as [[Scc.fwbw]] and registered as g25
    * against this query's own oracle (SccSpec pins the two bit-equal
    * on adversarial graphs); this registered query stays the
    * exact-envelope census on the 25-node nation spine.
    */
  private def g24(s: SparkSession, dir: String): DataFrame = {
    val edges = TradeGraph.edgesTable(s, dir)
      .select(col("src"), col("dst")).localCheckpoint()
    val pairs = closurePairs(edges)
    val mutual = pairs.join(
      pairs.select(col("node").as("root"), col("root").as("node")),
      Seq("root", "node"))
      .select(col("root").as("v"), col("node").as("u"))
    val verts = TradeGraph.nodes(s, dir)
    val labeled = verts.join(mutual, verts("node") === mutual("v"), "left")
      .groupBy(verts("node"))
      .agg(min(mutual("u")).as("mn"))
      .select(col("node"),
        least(col("node"), coalesce(col("mn"), col("node"))).as("scc_id"))
    labeled
      .withColumn("scc_size",
        count(lit(1)).over(Window.partitionBy(col("scc_id"))))
      .orderBy(col("node"))
  }

  private val g24Sql = s"""
    WITH RECURSIVE ${GraphSql.edgesCte}, ${GraphSql.nodesCte},
    r(root, nd) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.root, e.dst FROM r JOIN edges e ON e.src = r.nd),
    m AS (
      SELECT a.root AS v, a.nd AS u
      FROM r a JOIN r b ON b.root = a.nd AND b.nd = a.root),
    s AS (
      SELECT n.node, least(n.node, coalesce(min(m.u), n.node)) AS scc_id
      FROM nodes n LEFT JOIN m ON m.v = n.node
      GROUP BY n.node)
    SELECT node, scc_id, count(*) OVER (PARTITION BY scc_id) AS scc_size
    FROM s ORDER BY node"""

  /** g25: the SAME SCC census served by the SCALE path — [[Scc.fwbw]]'s
    * pivot forward-backward decomposition (frontier joins only, no
    * closure-pair materialization) on the same nation spine, checked
    * against the same oracle as g24. Registering it makes the scale
    * plan itself oracle-exercised, the d05→d12 / e11→e12 pattern:
    * g24 stays as the exact-envelope census, this row is the plan a
    * 100 TB graph actually runs.
    */
  private def g25(s: SparkSession, dir: String): DataFrame = {
    val edges = TradeGraph.edgesTable(s, dir).select(col("src"), col("dst"))
    Scc.fwbw(TradeGraph.nodes(s, dir), edges)
      .select(col("node").cast("int").as("node"),
        col("scc_id").cast("int").as("scc_id"))
      .withColumn("scc_size",
        count(lit(1)).over(Window.partitionBy(col("scc_id"))))
      .orderBy(col("node"))
  }

  /** Hop cap shared by the Spark loop and the DuckDB oracle's
    * recursion bound — if only the oracle capped (as it used to),
    * any graph with eccentricity ≥ the cap would legitimately
    * diverge from the uncapped engine.
    */
  private val g14MaxHops = 10

  /** Closeness centrality via multi-source BFS: every vertex's frontier
    * advances in the same loop (as in g07, the diameter — not the
    * vertex count — bounds the shuffle count), tracking min hop
    * distance; closeness = n_reachable / sum(dist) over the reachable
    * set. Integral hops, so the only double is the final ratio.
    */
  private def g14(s: SparkSession, dir: String): DataFrame = {
    val seed = TradeGraph.nodes(s, dir)
      .select(col("node").as("root"), col("node"), lit(0).as("hop"))
    val dist = Fixpoint.resident(
        TradeGraph.symEdges(TradeGraph.edgesTable(s, dir)), "src") { sym =>
      Fixpoint.frontier(seed, "hop", g14MaxHops) { (dist, front, round) =>
        dist.unionAll(front.join(sym, front("node") === sym("src"))
            .select(front("root"), sym("dst").as("node"), lit(round).as("hop")))
          .groupBy(col("root"), col("node")).agg(min(col("hop")).as("hop"))
      }._1
    }
    dist.groupBy(col("root").as("node"))
      .agg((count(lit(1)) - 1).as("n_reachable"),
        sum(col("hop")).cast("long").as("sum_dist"))
      .withColumn("closeness", when(col("sum_dist") > 0,
        col("n_reachable").cast("double") / col("sum_dist").cast("double"))
        .otherwise(lit(0.0)))
      .orderBy(col("node"))
  }

  private val g14Sql = s"""
    WITH RECURSIVE ${GraphSql.edgesCte}, ${GraphSql.nodesCte}, ${GraphSql.symCte},
    b(root, nd, d) AS (
      SELECT node, node, 0 FROM nodes
      UNION
      SELECT b.root, e.dst, b.d + 1 FROM b JOIN sym e ON e.src = b.nd
      WHERE b.d < $g14MaxHops),
    mind AS (SELECT root, nd, MIN(d) AS d FROM b GROUP BY root, nd)
    SELECT root AS node, count(*) - 1 AS n_reachable,
      CAST(SUM(d) AS BIGINT) AS sum_dist,
      CASE WHEN SUM(d) > 0 THEN
        CAST(count(*) - 1 AS DOUBLE) / CAST(CAST(SUM(d) AS BIGINT) AS DOUBLE)
      ELSE CAST(0 AS DOUBLE) END AS closeness
    FROM mind GROUP BY root ORDER BY node"""

  /** Bounded Bellman-Ford: min-cost path from node 0 on the DAG view
    * using ≤4 relaxation rounds; edge cost is the integral trade-cost
    * proxy FLOOR(1e6 / weight) + 1 so path sums stay exact. This is
    * [[ssspConverged]] capped at 4 rounds: after round r frontier
    * relaxation holds the min cost over paths of ≤ r hops, exactly what
    * r full-relaxation rounds compute.
    */
  private def g08(s: SparkSession, dir: String): DataFrame = {
    val dag = TradeGraph.dagEdges(TradeGraph.edgesTable(s, dir))
      .select(col("src"), col("dst"),
        (floor(lit(1000000.0) / col("weight")) + 1).cast("long").as("cost"))
    ssspConverged(dag, 0L, maxRounds = 4)
      .select(col("node").cast("int").as("node"), col("cost"))
      .orderBy(col("node"))
  }

  private val g08Sql = s"""
    WITH RECURSIVE ${GraphSql.edgesCte},
    dag AS (
      SELECT src, dst, CAST(FLOOR(1000000.0 / weight) + 1 AS BIGINT) AS cost
      FROM edges WHERE src < dst),
    paths(node, cost, depth) AS (
      SELECT CAST(0 AS INTEGER), CAST(0 AS BIGINT), 0
      UNION
      SELECT e.dst, p.cost + e.cost, p.depth + 1
      FROM paths p JOIN dag e ON e.src = p.node
      WHERE p.depth < 4)
    SELECT node, MIN(cost) AS cost
    FROM paths GROUP BY node ORDER BY node"""

  /** Diagnostics: relaxation rounds of the last [[ssspConverged]] run
    * (spec instrumentation; also how the g26 oracle's unroll depth was
    * measured — single-threaded test use only).
    */
  @volatile private[graft] var lastSsspRounds: Int = 0

  /** Long-typed (src, dst, cost): the edge table of both SSSP forms. */
  private def costEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"),
      col("cost").cast("long").as("cost"))

  /** Unbounded single-source shortest path over positive integral
    * edge costs, iterated to FIXPOINT — the general form of g08's
    * bounded Bellman-Ford (the reference's "shortest route" semantics
    * without a depth cap). Frontier relaxation: each round relaxes
    * only the edges out of nodes whose cost improved in the previous
    * round. The distance table carries the round a node's cost last
    * improved (`tag`), and candidates merge per node by
    * `min(struct(cost, tag))`: a candidate wins only on a strict cost
    * improvement (a cost tie keeps the old row: its tag is smaller),
    * so `tag === round` is exactly the improved set. Positive costs
    * guarantee termination in ≤ (max shortest-path hop count) rounds;
    * the cost per round is one shuffle of the improved set, which
    * shrinks monotonically after the wavefront peak. `maxRounds` caps
    * the loop (g08's bounded form): the result is then the min cost
    * over paths of at most `maxRounds` hops.
    */
  private[graft] def ssspConverged(edges: DataFrame, source: Long,
      maxRounds: Int = Int.MaxValue): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val (dist, rounds) = Fixpoint.resident(costEdges(edges), "src") { e =>
      Fixpoint.frontier(Seq((source, 0L, 0)).toDF("node", "cost", "tag"), "tag", maxRounds) {
        (dist, front, round) =>
          dist.unionAll(front.join(e, front("node") === e("src"))
              .select(e("dst").as("node"), (front("cost") + e("cost")).as("cost"),
                lit(round).as("tag")))
            .groupBy(col("node")).agg(min(struct(col("cost"), col("tag"))).as("b"))
            .select(col("node"), col("b.cost").as("cost"), col("b.tag").as("tag"))
      }
    }
    lastSsspRounds = rounds
    dist.select(col("node"), col("cost"))
  }

  /** g26: SSSP to fixpoint on the PREFERRED-PARTNER bipartite graph —
    * each customer keeps its two best suppliers (max lineitem count,
    * smallest-id tie-break) and each supplier its two best customers. The
    * full customer–supplier graph is so dense its diameter is ~4 at
    * every SF (g08's bounded form already covers that regime); the
    * best-partner subgraph is chain-like and DEEP, so the convergence
    * loop is genuinely exercised — and it grows with SF (millions of
    * nodes at 100 TB). Nodes use the g11 bipartite numbering
    * (customer 2k, supplier 2k+1); the edge cost is the g08 integral
    * trade-cost proxy FLOOR(1e6 / lineitem-count) + 1 (heavier
    * trading pairs are cheaper hops; integral so path sums stay
    * exact). The source is the busiest supplier (max distinct
    * customers, smallest-id tie-break) — data-derived and
    * deterministic like g22's hub, so the oracle rederives it; the
    * driver-side head() is one scalar.
    */
  /** (cust, supp, w) trade-volume pairs — the shared input of the
    * preferred-partner subgraph (g26, g27).
    */
  private[graph] def custSuppW(s: SparkSession, dir: String): DataFrame =
    // r16: materialized once per (session, corpus) — g26/g27/g28/g29
    // all start from this fact aggregation (and g26/g28 re-probe it
    // for the hub), so it joins the shared-index family (the d04/d18
    // shingle-table move) instead of re-scanning the fact spine per
    // query and per rep
    graft.util.MatStore.table(s, s"custsuppw:$dir", "graft_custsuppw") {
      TradeGraph.orderFacts(s, dir)
        .groupBy(col("custkey").cast("long").as("cust"),
          col("suppkey").cast("long").as("supp"))
        .agg(count(lit(1)).as("w"))
    }

  /** Preferred-partner selection over [[custSuppW]]: each customer's
    * top-2 suppliers and each supplier's top-2 customers by trade
    * volume (ties to the smaller id) — a sparse, DEEP, SF-scaling
    * bipartite subgraph, vs the diameter-~4 full bipartite graph.
    * The per-partner top-2 windows partition on hash-uniform ids.
    */
  private[graph] def preferredPartners(w: DataFrame): DataFrame = {
    val topSupp = w.withColumn("rn", row_number().over(
        Window.partitionBy(col("cust")).orderBy(col("w").desc, col("supp"))))
      .filter(col("rn") <= 2).select(col("cust"), col("supp"), col("w"))
    val topCust = w.withColumn("rn", row_number().over(
        Window.partitionBy(col("supp")).orderBy(col("w").desc, col("cust"))))
      .filter(col("rn") <= 2).select(col("cust"), col("supp"), col("w"))
    topSupp.unionAll(topCust).distinct()
  }

  /** [[preferredPartners]] over [[custSuppW]], materialized once per
    * (session, corpus) — the two corpus-pair window passes are the
    * shared prelude of g26/g27/g28/g29 (r16: previously re-run per
    * query and per bench rep; only g29 memoized its derived edge list).
    */
  private[graph] def prefSel(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"prefsel:$dir", "graft_prefsel")(
      preferredPartners(custSuppW(s, dir)))

  private def g26(s: SparkSession, dir: String): DataFrame = {
    val w = custSuppW(s, dir)
    val sel = prefSel(s, dir)
    val bi = sel.select((col("cust") * 2).as("src"), (col("supp") * 2 + 1).as("dst"),
      (floor(lit(1000000.0) / col("w")) + 1).cast("long").as("cost"))
    val sym = bi.unionAll(bi.select(col("dst").as("src"), col("src").as("dst"), col("cost")))
    val hub = w.groupBy(col("supp")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("supp")).head().getLong(0) * 2 + 1
    ssspConverged(sym, hub).orderBy(col("node"))
  }

  /** Unrolled-relaxation oracle (the g11 hash-min pattern): DuckDB's
    * recursive CTE cannot run Bellman-Ford to fixpoint — (node, cost)
    * states grow along cycles forever — so the oracle unrolls
    * [[g26UnrollRounds]] relaxation rounds as a chained CTE. The
    * round count was measured via [[lastSsspRounds]] at sf0.001/0.01/
    * 0.1 and carries headroom; the Spark side iterates to true
    * fixpoint regardless of SF.
    */
  private val g26UnrollRounds = 16

  /** [[ssspConverged]] with PREDECESSOR tracking — the route, not just
    * the distance (the reference's op-3/4 user asks "how do I get
    * there"; g26 answers only "how far"). Identical frontier-relaxation
    * loop and exchanges; the min-struct per destination carries
    * (cost, pred), so ties break to the smallest predecessor id WITHIN
    * the first round the final cost is achieved, and a node's pred
    * never changes afterwards (improvements are strict). That rule is
    * deterministic AND oracle-unrollable: every optimal predecessor of
    * a node first achieves its own final cost exactly one round before
    * the node does (any earlier and the node would have improved
    * earlier; any later and its candidate never survives the strict-<
    * filter), so a full-relaxation unroll sees the same candidate set
    * in the deciding round. The source's pred is itself — the walk
    * terminator.
    */
  private[graft] def ssspPredsConverged(edges: DataFrame, source: Long): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // the merge key extends to min(struct(cost, tag, pred)): a cost tie
    // keeps the old row, and among same-round candidates the smallest
    // pred wins — both exactly the tie rules above
    val (dist, rounds) = Fixpoint.resident(costEdges(edges), "src") { e =>
      Fixpoint.frontier(Seq((source, 0L, 0, source)).toDF("node", "cost", "tag", "pred"), "tag") {
        (dist, front, round) =>
          dist.unionAll(front.join(e, front("node") === e("src"))
              .select(e("dst").as("node"), (front("cost") + e("cost")).as("cost"),
                lit(round).as("tag"), front("node").as("pred")))
            .groupBy(col("node"))
            .agg(min(struct(col("cost"), col("tag"), col("pred"))).as("b"))
            .select(col("node"), col("b.cost").as("cost"), col("b.tag").as("tag"),
              col("b.pred").as("pred"))
      }
    }
    lastSsspRounds = rounds
    dist.select(col("node"), col("cost"), col("pred"))
  }

  /** Unfold full routes from a (node, cost, pred) distance table by
    * iterative predecessor joins — the pred map is a tree rooted at
    * the source, so the walk terminates in exactly the path depth
    * (bounded by the relaxation round count). Per round: one hash
    * join of the still-walking rows against the node-keyed pred
    * table; finished rows exit the loop immediately, so total work is
    * Σ path lengths — the size of the output itself. Nothing
    * driver-sized; lineage is checkpoint-truncated per round.
    */
  private[graft] def unfoldPaths(dist: DataFrame, source: Long): DataFrame = {
    // r16: POINTER-DOUBLING unfold — ceil(log2(max path depth)) rounds
    // instead of one join per path-depth level (the Scc chain-
    // contraction move applied to the pred tree). jump after round k
    // maps node → (its 2^k-th ancestor, the ancestor segment
    // [p_{2^k}, …, p_1] nearest-ancestor-LAST, both clipped at the
    // source, which is absorbing: jump(source) = (source, [])). The
    // walking rows keep the invariant path = [cur, …, node], so a
    // round prepends the segment and jumps cur — finished rows (cur =
    // source) exit exactly as before, and the emitted path arrays are
    // identical element for element.
    var jump = dist.select(col("node").as("jn"),
        when(col("node") === lit(source), col("node"))
          .otherwise(col("pred")).as("jp"),
        when(col("node") === lit(source), array().cast("array<long>"))
          .otherwise(array(col("pred"))).as("seg"))
      .localCheckpoint()
    // the state is a round's rows, finished (cur = source) and walking
    // alike; each round's finished rows are kept here as it passes
    val done = List.newBuilder[DataFrame]
    val walking = col("cur") =!= lit(source)
    val (last, _) = Fixpoint.iterate(
        dist.select(col("node"), col("cost"), col("node").as("cur"),
          array(col("node")).as("path")),
        Until.Empty(walking)) { (rows, round) =>
      done += rows.filter(!walking)
      if (round > 1) {
        // double the jump table: 2^(k+1) ancestor = 2^k ancestor of
        // the 2^k ancestor; segments concatenate ancestor-side first
        val j2 = jump.select(col("jn").as("jn2"), col("jp").as("jp2"),
          col("seg").as("seg2"))
        jump = jump.join(j2, jump("jp") === col("jn2"))
          .select(jump("jn"), col("jp2").as("jp"),
            concat(col("seg2"), jump("seg")).as("seg"))
          .toDF("jn", "jp", "seg").localCheckpoint()
      }
      val active = rows.filter(walking)
      active.join(jump, active("cur") === jump("jn"))
        .select(col("node"), col("cost"), jump("jp").as("cur"),
          concat(jump("seg"), col("path")).as("path"))
        .toDF("node", "cost", "cur", "path")
    }
    done += last.filter(!walking)
    done.result().reduce(_ unionAll _)
      .select(col("node"), col("cost"),
        (size(col("path")) - 1).cast("long").as("hops"),
        concat_ws("->", expr("transform(path, x -> cast(x as string))"))
          .as("path"))
  }

  /** g28: shortest ROUTES from the g26 hub on the preferred-partner
    * bipartite graph — g26's distance table extended with predecessor
    * tracking and unfolded into the full hub→node path per node
    * (rendered "a->b->c"). Same graph, same source, same fixpoint
    * loop; the path unfold adds one hash join per path-depth level.
    */
  private def g28(s: SparkSession, dir: String): DataFrame = {
    val w = custSuppW(s, dir)
    val sel = prefSel(s, dir)
    val bi = sel.select((col("cust") * 2).as("src"), (col("supp") * 2 + 1).as("dst"),
      (floor(lit(1000000.0) / col("w")) + 1).cast("long").as("cost"))
    val sym = bi.unionAll(bi.select(col("dst").as("src"), col("src").as("dst"), col("cost")))
    val hub = w.groupBy(col("supp")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("supp")).head().getLong(0) * 2 + 1
    unfoldPaths(ssspPredsConverged(sym, hub), hub).orderBy(col("node"))
  }

  /** g26's unrolled-relaxation oracle extended with pred tracking
    * (struct-min mirrors the Spark min(struct(cost, pred)); the
    * keep-old-on-tie rule rides the o.cost <= n.cost CASE), then a
    * recursive-CTE walk up the pred tree rebuilds each node's path.
    */
  private val g28Sql: String = {
    val relax = (1 to g26UnrollRounds).map { i =>
      s"""n$i AS (
      SELECT node, min({'c': cost, 'p': pred}) AS b FROM (
        SELECT e.dst AS node, p.cost + e.cost AS cost, p.node AS pred
        FROM d${i - 1} p JOIN bedges e ON e.src = p.node)
      GROUP BY node),
    d$i AS MATERIALIZED (
      SELECT COALESCE(o.node, n.node) AS node,
        CASE WHEN o.cost IS NOT NULL AND (n.b IS NULL OR o.cost <= n.b.c)
          THEN o.cost ELSE n.b.c END AS cost,
        CASE WHEN o.cost IS NOT NULL AND (n.b IS NULL OR o.cost <= n.b.c)
          THEN o.pred ELSE n.b.p END AS pred
      FROM d${i - 1} o FULL OUTER JOIN n$i n ON n.node = o.node)"""
    }.mkString(",\n    ")
    s"""
    WITH RECURSIVE ${GraphSql.prefCtes},
    bi AS MATERIALIZED (
      SELECT cust * 2 AS src, supp * 2 + 1 AS dst,
        CAST(FLOOR(1000000.0 / w) + 1 AS BIGINT) AS cost
      FROM sel),
    bedges AS MATERIALIZED (
      SELECT src, dst, cost FROM bi
      UNION ALL SELECT dst AS src, src AS dst, cost FROM bi),
    hub AS (
      SELECT supp * 2 + 1 AS h FROM w GROUP BY supp ORDER BY count(*) DESC, supp LIMIT 1),
    d0 AS (SELECT h AS node, CAST(0 AS BIGINT) AS cost, h AS pred FROM hub),
    $relax,
    walk(node, cost, cur, path) AS (
      SELECT node, cost, node, [node] FROM d$g26UnrollRounds
      UNION ALL
      SELECT w2.node, w2.cost, p.pred, list_prepend(p.pred, w2.path)
      FROM walk w2 JOIN d$g26UnrollRounds p ON p.node = w2.cur
      WHERE w2.cur <> (SELECT h FROM hub))
    SELECT node, cost, CAST(len(path) - 1 AS BIGINT) AS hops,
      array_to_string(list_transform(path, x -> CAST(x AS VARCHAR)), '->') AS path
    FROM walk WHERE cur = (SELECT h FROM hub)
    ORDER BY node"""
  }

  private val g26Sql: String = {
    val relax = (1 to g26UnrollRounds).map { i =>
      s"""d$i AS MATERIALIZED (
      SELECT node, MIN(cost) AS cost FROM (
        SELECT node, cost FROM d${i - 1}
        UNION ALL
        SELECT e.dst AS node, p.cost + e.cost AS cost
        FROM d${i - 1} p JOIN bedges e ON e.src = p.node)
      GROUP BY node)"""
    }.mkString(",\n    ")
    s"""
    WITH ${GraphSql.prefCtes},
    bi AS MATERIALIZED (
      SELECT cust * 2 AS src, supp * 2 + 1 AS dst,
        CAST(FLOOR(1000000.0 / w) + 1 AS BIGINT) AS cost
      FROM sel),
    bedges AS MATERIALIZED (
      SELECT src, dst, cost FROM bi
      UNION ALL SELECT dst AS src, src AS dst, cost FROM bi),
    hub AS (
      SELECT supp * 2 + 1 AS h FROM w GROUP BY supp ORDER BY count(*) DESC, supp LIMIT 1),
    d0 AS (SELECT h AS node, CAST(0 AS BIGINT) AS cost FROM hub),
    $relax
    SELECT node, cost FROM d$g26UnrollRounds ORDER BY node"""
  }

  val ops: Seq[Op] = Seq(
    Op("g03_bfs_levels", g03, Some(g03Sql)),
    Op("g22_bfs_from_hub", g22, Some(g22Sql)),
    Op("g04_dfs_terminal", g04, Some(g04Sql)),
    Op("g23_dfs_terminal_from_hub", g23, Some(g23Sql)),
    Op("g07_reachability", g07, Some(g07Sql)),
    Op("g24_scc", g24, Some(g24Sql)),
    // g25 deliberately reuses g24's oracle: FW-BW must produce the
    // identical SCC partition as the closure-based exact form — the
    // shared SQL IS the contract (SURVEY §2 records the same)
    Op("g25_scc_fwbw", g25, Some(g24Sql)),
    Op("g08_shortest_path_weighted", g08, Some(g08Sql)),
    Op("g26_sssp", g26, Some(g26Sql)),
    Op("g28_sssp_paths", g28, Some(g28Sql)),
    Op("g14_closeness", g14, Some(g14Sql)))
}
