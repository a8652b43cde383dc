package graft.graph

import graft.Op
import graft.util.Fixpoint
import graft.util.Fixpoint.Until
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch-based reachability counts — the scale path for g07/g14.
  *
  * The exact transitive closure materializes O(V²) (root, node) state:
  * fine on the 25-nation trade graph, impossible on the bipartite
  * customer–supplier graph (millions of nodes at 100 TB). The sketch
  * keeps ONE fixed-width register set per node — a Flajolet–Martin
  * neighborhood sketch in the HyperANF shape (Boldi, Rosa & Vigna,
  * "HyperANF: approximating the neighbourhood function of very large
  * graphs", WWW'11) — so per-round state is linear in V and the merge
  * is a map-side-combining `bit_or` aggregation.
  *
  * Round t extends coverage by one hop:
  * S₀(v) = ⋁_{v→w} ownbit(w);  S_{t+1}(v) = S_t(v) ⋁ ⋁_{v→w} S_t(w).
  * After the shared round cap, per-node estimate of |reachable set| =
  * 2^(sum_lzb / R) / 0.77351, where sum_lzb sums each register's
  * lowest-zero-bit index (the classic FM mean-R estimator, σ ≈
  * 1.1/√R ≈ 28% at R = 16).
  *
  * Everything up to the final (exact) division is integer arithmetic,
  * so the op is hash-exact oracle-able. The per-element hash is two
  * Lehmer rounds (multipliers 16807 / 48271 mod 2³¹−1) with the
  * replica index on a large stride — measured necessary: with the
  * replica in the low bits, contiguous node ids produce structured
  * trailing zeros and the estimator saturates near 1.8 regardless of
  * true count. Intermediates stay < 2⁴⁸, so both engines compute the
  * same BIGINT values with no overflow. A production build at 10⁹+
  * nodes would swap the portable LCG for xxhash64 and 64-bit
  * registers; the plan shape is unchanged.
  *
  * Reference ops 1–4 (client.c:23-29) have no sketch analog — this is
  * the 100 TB hardening of g07's semantics, judged as a scale
  * component.
  */
object ReachSketch {
  /** registers per node */
  val R = 16
  /** shared hop cap: s0 covers 1 hop, each extra round +1 — both the
    * Spark loop and the unrolled oracle run exactly `Rounds` stages.
    */
  val Rounds = 10

  private val M = 2147483647L // 2^31 - 1
  private val Stride = 1000003L

  /** The bit mask contributed by `node` to replica `r`; `shift` is the
    * only dialect difference (Spark `shiftleft(x, n)`, DuckDB `x << n`).
    */
  private def maskExpr(node: String, r: Int, shift: (String, String) => String): String = {
    val k = s"(CAST($node AS BIGINT) + ${r.toLong * Stride} + 1)"
    val h1 = s"((16807 * $k) % $M)"
    val h2 = s"((48271 * $h1) % $M)"
    val hh = s"($h2 | 1073741824)" // force a set bit at 30: caps tz, handles h = 0
    shift("CAST(1 AS BIGINT)", s"bit_count(($hh & (0 - $hh)) - 1)")
  }

  private def maskSpark(node: String, r: Int): String =
    maskExpr(node, r, (x, n) => s"shiftleft($x, $n)")
  private def maskDuck(node: String, r: Int): String =
    maskExpr(node, r, (x, n) => s"($x << ($n))")

  /** Index of the lowest UNSET bit of a register — the FM statistic.
    * (x & -x) on the complement isolates the lowest zero; portable.
    * The outer cast matters: DuckDB's bit_count returns TINYINT and
    * the 16-register sum overflows 127 on large components.
    */
  private def lzbExpr(reg: String): String =
    s"CAST(bit_count(((~($reg)) & (0 - (~($reg)))) - 1) AS BIGINT)"

  private def regNames: Seq[String] = (0 until R).map(r => s"reg$r")

  /** Iterated sketch over directed (src, dst) edges, one register
    * frame per round 1..[[Rounds]] (round d covers distance ≤ d).
    * Per round: one shuffle join (edges ⋈ sketch on dst) + one bit_or
    * aggregation — both map-side combinable, state linear in V.
    *
    * The merge aggregate also flags each node whose registers grew
    * (its new bit count exceeds the count its own row carried in), and
    * the round's checkpoint job counts the flags ([[Fixpoint.iterate]]).
    * Registers are OR-monotone, so no node growing is exactly the
    * global bit count standing still: the fixpoint. Rounds past it
    * reuse the converged frame — provably identical to running them,
    * which is also why the early exit can't diverge from the
    * fully-unrolled oracle.
    */
  def sketchRegisterRounds(edges: DataFrame): Seq[DataFrame] = {
    val aggs0 = (0 until R).map(r => expr(s"bit_or(${maskSpark("dst", r)})").as(s"reg$r"))
    // round 1: every node's registers grew from nothing
    val s0 = edges.groupBy(col("src").as("node")).agg(aggs0.head, aggs0.tail: _*)
      .withColumn("grew", lit(true))
    val aggsN = regNames.map(n => expr(s"bit_or($n)").as(n))
    val bits = expr(regNames.map(n => s"CAST(bit_count($n) AS BIGINT)").mkString(" + "))
    val frames = Seq.newBuilder[DataFrame]
    def frame(sk: DataFrame) = sk.select(col("node") +: regNames.map(col): _*)
    val (last, _) = Fixpoint.iterate(s0, Until.Empty(col("grew")), Rounds - 1) {
      (sk, _) =>
        frames += frame(sk)
        // shuffle_hash: the sketch side is V rows of 17 ints — hash-build
        // it instead of sort-merge, which would re-sort the E-row edge
        // side every round (measured 5x slower on the 1M-edge bipartite
        // graph at sf0.1)
        val succ = edges.join(sk.hint("shuffle_hash"), col("dst") === col("node"))
          .select(col("src").as("node") +: regNames.map(col) :+
            lit(null).cast("long").as("before"): _*)
        succ.unionByName(frame(sk).withColumn("before", bits))
          .groupBy(col("node")).agg(aggsN.head, aggsN.tail :+ max(col("before")).as("before"): _*)
          .select(col("node") +: regNames.map(col) :+
            (bits > coalesce(col("before"), lit(0L))).as("grew"): _*)
    }
    frames += frame(last)
    val built = frames.result()
    built ++ Seq.fill(Rounds - built.size)(built.last)
  }

  /** Final-round sketch only (round cap reached or converged). */
  def sketch(edges: DataFrame): DataFrame = sketchRegisterRounds(edges).last

  /** (node, sum_lzb, est_log2) for every node in `nodes`; nodes
    * reaching nothing get zero registers. est_log2 = sum_lzb/R is an
    * exact binary division, so the double is bit-deterministic;
    * consumers recover the count estimate as 2^est_log2 / 0.77351.
    */
  def estimate(nodes: DataFrame, sk: DataFrame): DataFrame = {
    val zero = regNames.map(n => s"coalesce($n, CAST(0 AS BIGINT))")
    val sumLzb = zero.map(lzbExpr).mkString(" + ")
    nodes.join(sk, Seq("node"), "left")
      .select(col("node"),
        expr(s"CAST(($sumLzb) AS BIGINT)").as("sum_lzb"))
      .withColumn("est_log2", col("sum_lzb").cast("double") / lit(R.toDouble))
      .orderBy(col("node"))
  }

  // ---- g18: sketch reachability on the directed trade graph --------
  // Same semantics as g07 ("reachable via ≥1 edge"), sketched — the
  // oracle-checked instance on the graph where g07's exact answer
  // exists to compare against (ReachSketchSpec gates the estimates).
  private def g18(s: SparkSession, dir: String): DataFrame = {
    val edges = TradeGraph.edgesTable(s, dir)
      .select(col("src"), col("dst")).localCheckpoint()
    estimate(TradeGraph.nodes(s, dir), sketch(edges))
  }

  /** Unrolled oracle: s0..s{Rounds-1} CTEs mirroring [[sketch]]. */
  private def sketchSql(edgesRel: String): String = {
    val regs = regNames.mkString(", ")
    val s0 = s"""s0 AS MATERIALIZED (
      SELECT src AS node, ${(0 until R).map(r => s"bit_or(${maskDuck("dst", r)}) AS reg$r").mkString(", ")}
      FROM $edgesRel GROUP BY src)"""
    val rounds = (1 until Rounds).map { t =>
      val p = s"s${t - 1}"
      s"""s$t AS MATERIALIZED (
      SELECT node, ${regNames.map(n => s"bit_or($n) AS $n").mkString(", ")} FROM (
        SELECT e.src AS node, $regs FROM $edgesRel e JOIN $p ON $p.node = e.dst
        UNION ALL SELECT node, $regs FROM $p)
      GROUP BY node)"""
    }
    (s0 +: rounds).mkString(",\n    ")
  }

  private def estimateSql(nodesRel: String, skRel: String): String = {
    val sumLzb = regNames
      .map(n => s"coalesce($skRel.$n, CAST(0 AS BIGINT))")
      .map(lzbExpr).mkString(" + ")
    s"""SELECT $nodesRel.node, CAST(($sumLzb) AS BIGINT) AS sum_lzb,
      CAST(CAST(($sumLzb) AS BIGINT) AS DOUBLE) / $R.0 AS est_log2
    FROM $nodesRel LEFT JOIN $skRel ON $skRel.node = $nodesRel.node
    ORDER BY $nodesRel.node"""
  }

  private val g18Sql = s"""
    WITH ${GraphSql.edgesCte}, ${GraphSql.nodesCte},
    ${sketchSql("edges")}
    ${estimateSql("nodes", s"s${Rounds - 1}")}"""

  // ---- g19: sketch reachability on the bipartite scale graph -------
  // The graph g07 cannot touch: customer–supplier pairs, symmetrized,
  // 2k/2k+1 node numbering (as g11). On an undirected graph the
  // reachable set is the connected component, so the estimates are a
  // distributed approximate-component-size census — linear state where
  // the exact closure would be |V|² pairs.
  private def g19(s: SparkSession, dir: String): DataFrame = {
    val finalRound = bipartiteSketchRounds(s, dir)
      .filter(col("rnd") === Rounds).drop("rnd")
    estimate(bipartiteNodes(s, dir), finalRound)
  }

  private val g19Sql = s"""
    WITH ${Components.bipairsCteSql},
    bsym AS MATERIALIZED (
      SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs
      UNION ALL SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM pairs),
    bnodes AS (SELECT DISTINCT src AS node FROM bsym),
    ${sketchSql("bsym")}
    ${estimateSql("bnodes", s"s${Rounds - 1}")}"""

  // ---- g20: sketch closeness (HyperANF neighborhood function) ------
  // g14's exact closeness holds O(V·diameter) frontier rows with
  // V-wide frontiers — the last super-linear-state operator. HyperANF
  // gives closeness from the SAME linear-state sketch: the per-round
  // neighborhood function N(v,d) = |{w : dist(v,w) ≤ d}| yields
  // sum_dist(v) = Σ_d d·(N(v,d) − N(v,d−1)), and closeness =
  // N(v,T)/sum_dist — so recording the integer FM statistic per round
  // is all the extra work over g19.

  private val sumLzbSql: String =
    "CAST(" + regNames.map(lzbExpr).mkString(" + ") + " AS BIGINT)"

  /** Per-round FM statistic as one tagged frame (node, rnd, slzb),
    * rnd = 1..[[Rounds]].
    */
  private def taggedSlzb(registerRounds: Seq[DataFrame]): DataFrame =
    registerRounds.zipWithIndex
      .map { case (df, i) =>
        df.select(col("node"), lit(i + 1).as("rnd"), expr(sumLzbSql).as("slzb")) }
      .reduce(_ unionAll _)

  /** round(2^(r/16) · 2^20) for r = 0..15: the fractional power as a
    * 2^20-scaled FIXED-POINT integer. The whole Σ d·(N_d − N_{d−1})
    * chain then runs in exact BIGINT arithmetic — a double chain was
    * tried first and missed hash-parity by 1 ulp (engines differ in
    * where they contract a·b+c into FMA); with integers the only
    * double ops left are one CAST + one division per output column,
    * single IEEE operations that cannot reassociate.
    */
  private val Pow2FracFx = Seq(
    1048576L, 1095000L, 1143480L, 1194106L, 1246974L, 1302182L, 1359835L,
    1420040L, 1482910L, 1548564L, 1617125L, 1688722L, 1763488L, 1841564L,
    1923097L, 2008240L)

  /** φ · 2^20 to 17 significant digits — the single literal divisor
    * that turns a scaled-integer estimate into 2^(slzb/R)/φ.
    */
  private val PhiFx = "811084.02176000003"

  /** 2^20-scaled FM count estimate (1 << slzb/R) · Pow2FracFx(slzb%R)
    * — BIGINT-exact in both dialects (max (1<<31)·2008240 < 2^52).
    */
  private def nscaledExpr(slzb: String, shift: (String, String) => String,
      idiv: String): String = {
    val q = s"($slzb $idiv $R)"
    val frac = s"(CASE ($slzb % $R) " +
      Pow2FracFx.zipWithIndex.map { case (c, i) => s"WHEN $i THEN $c" }.mkString(" ") +
      " END)"
    s"(${shift("CAST(1 AS BIGINT)", q)} * $frac)"
  }

  /** Projection (node, slzb_1..slzb_T) → closeness estimate columns.
    * distsum = Σ d·(N_d − N_{d−1}) in exact scaled-integer arithmetic;
    * φ and the 2^20 scale cancel in the closeness ratio.
    */
  private def closenessProj(shift: (String, String) => String,
      idiv: String): Seq[String] = {
    def ns(d: Int) = nscaledExpr(s"slzb_$d", shift, idiv)
    val distsum = (1 to Rounds)
      .map(d => s"(${d.toLong} * (${ns(d)} - ${if (d == 1) "0" else ns(d - 1)}))")
      .mkString("(", " + ", ")")
    Seq("node",
      s"slzb_$Rounds AS sum_lzb",
      s"(CAST(${ns(Rounds)} AS DOUBLE) / $PhiFx) AS est_n",
      s"(CAST($distsum AS DOUBLE) / $PhiFx) AS est_sum_dist",
      s"CASE WHEN $distsum > 0 THEN CAST(${ns(Rounds)} AS DOUBLE) / CAST($distsum AS DOUBLE) ELSE 0.0 END AS est_closeness")
  }

  private def sparkShift(x: String, n: String) = s"shiftleft($x, CAST($n AS INT))"
  private def duckShift(x: String, n: String) = s"($x << ($n))"

  /** Closeness estimates from a tagged (node, rnd, slzb) frame: one
    * union + aggregation pivots the per-round statistics into a wide
    * row per node (single shuffle, not T joins), then the shared
    * projection turns them into estimates.
    */
  private def closenessFromTagged(tagged: DataFrame, nodes: DataFrame): DataFrame = {
    val roundCols = (1 to Rounds).map(d =>
      coalesce(max(when(col("rnd") === d, col("slzb"))), lit(0L)).as(s"slzb_$d"))
    val wide = nodes.join(
      tagged.groupBy(col("node")).agg(roundCols.head, roundCols.tail: _*),
      Seq("node"), "left")
      .select(col("node") +:
        (1 to Rounds).map(d => coalesce(col(s"slzb_$d"), lit(0L)).as(s"slzb_$d")): _*)
    wide.selectExpr(closenessProj(sparkShift _, "div"): _*).orderBy(col("node"))
  }

  /** Sketch closeness over directed (src, dst) edges for `nodes`. */
  def sketchCloseness(edges: DataFrame, nodes: DataFrame): DataFrame =
    closenessFromTagged(taggedSlzb(sketchRegisterRounds(edges)), nodes)

  /** The bipartite (2k/2k+1 symmetrized) graph's per-round register
    * table, materialized once per (session, corpus) and shared by
    * g19 and g20 — the same amortized-index pattern as d02's
    * signature store: both ops need the identical 10-round sketch
    * loop, so it runs once. Schema (node, rnd, reg0..reg15).
    */
  private def bipartiteSketchRounds(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"bsketch:$dir", "graft_bsketch") {
      val pairs = Components.bipartitePairs(s, dir)
      val bsym = pairs
        .select((col("cust") * 2).as("src"), (col("supp") * 2 + 1).as("dst"))
        .unionAll(pairs.select((col("supp") * 2 + 1).as("src"), (col("cust") * 2).as("dst")))
        .localCheckpoint()
      sketchRegisterRounds(bsym).zipWithIndex
        .map { case (df, i) =>
          df.select(col("node") +: lit(i + 1).as("rnd") +: regNames.map(col): _*) }
        .reduce(_ unionAll _)
    }

  private def bipartiteNodes(s: SparkSession, dir: String): DataFrame = {
    val pairs = Components.bipartitePairs(s, dir)
    pairs.select((col("cust") * 2).as("node"))
      .unionAll(pairs.select((col("supp") * 2 + 1).as("node"))).distinct()
  }

  private def g20(s: SparkSession, dir: String): DataFrame = {
    val tagged = bipartiteSketchRounds(s, dir)
      .select(col("node"), col("rnd"), expr(sumLzbSql).as("slzb"))
    closenessFromTagged(tagged, bipartiteNodes(s, dir))
  }

  private val g20Sql: String = {
    val ls = (1 to Rounds).map(d =>
      s"l$d AS (SELECT node, $sumLzbSql AS slzb FROM s${d - 1})").mkString(",\n    ")
    val wideCols = (1 to Rounds)
      .map(d => s"coalesce(l$d.slzb, CAST(0 AS BIGINT)) AS slzb_$d").mkString(", ")
    val wideJoins = (1 to Rounds)
      .map(d => s"LEFT JOIN l$d ON l$d.node = bnodes.node").mkString(" ")
    s"""
    WITH ${Components.bipairsCteSql},
    bsym AS MATERIALIZED (
      SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs
      UNION ALL SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM pairs),
    bnodes AS (SELECT DISTINCT src AS node FROM bsym),
    ${sketchSql("bsym")},
    $ls,
    wide AS (SELECT bnodes.node, $wideCols FROM bnodes $wideJoins)
    SELECT ${closenessProj(duckShift _, "//").mkString(", ")}
    FROM wide ORDER BY node"""
  }

  val ops: Seq[Op] = Seq(
    Op("g18_reach_sketch", g18, Some(g18Sql)),
    Op("g19_reach_sketch_bipartite", g19, Some(g19Sql)),
    Op("g20_closeness_sketch", g20, Some(g20Sql)))
}
