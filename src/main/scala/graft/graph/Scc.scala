package graft.graph

import scala.collection.mutable

import graft.util.Fixpoint
import graft.util.Fixpoint.Until
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components at cluster scale: pivot-based
  * forward-backward (FW-BW) decomposition — the scale sibling the g24
  * closure-pair envelope has always documented (Fleischer/Hendrickson/
  * Pinar's divide-and-conquer SCC, the standard distributed SCC
  * algorithm; public references: the FW-BW paper and Spark-GraphX-style
  * implementations of it).
  *
  * Why g24's shape can't scale: the closure-pair set is O(V · reach)
  * rows — quadratic on a dense reachability structure — and the SCC
  * query pays it twice (closure ⋈ transpose). FW-BW never materializes
  * reachability PAIRS: per round it materializes only per-partition
  * reachable SETS (≤ |V| rows each), so nothing in the plan is ever
  * larger than O(V) per round.
  *
  * One round, per live partition (all partitions advance together in
  * the same DataFrames, like g07's all-sources-at-once closure loop):
  *
  *   1. pivot = MIN node id in the partition (deterministic — no RNG
  *      to coordinate across executors, and it makes the emitted label
  *      the SCC's min id: the pivot's SCC always contains the
  *      partition's min node, see below);
  *   2. FW = BFS from the pivot over forward edges, confined to the
  *      partition; BW = the same over reversed edges;
  *   3. FW ∩ BW is exactly the pivot's SCC (mutual reachability within
  *      a partition equals mutual reachability in the whole graph —
  *      FW-BW's invariant: every SCC is wholly inside one partition,
  *      because the three-way split below never cuts a cycle);
  *   4. label it `scc_id = pivot`; split the remainder three ways —
  *      FW∖SCC, BW∖SCC, neither — as the next round's partitions.
  *
  * Label determinism: the pivot is the partition's min node and a
  * member of its own SCC, and every node of that SCC is in the same
  * partition, so `pivot = min(SCC)` — exactly g24's
  * `scc_id(v) = min(v, min{u : u ⇄ v})` contract, which is what lets
  * SccSpec pin this implementation bit-equal to the registered g24 on
  * any graph.
  *
  * Partition ids stay distributed and collision-free with no driver
  * coordination: a child partition's id is `pivot · 4 + branch`
  * (branch ∈ {1, 2, 3}) — pivots are distinct across partitions (a
  * pivot belongs to its own partition) and |Δpivot| · 4 > |Δbranch|,
  * so the affine code is injective; the whole namespace is remade
  * every round, so cross-round reuse is harmless. (Envelope: node ids
  * up to 2^61 — the id arithmetic is LongType.)
  *
  * Scale shape: every step is a frontier equi-join / semi-join keyed
  * by (part, node) — hash-uniform, nothing broadcast, nothing
  * driver-sized (the loop conditions are row counts taken by the
  * jobs that checkpoint each round, which truncates its lineage
  * exactly like g03/g14's loops). Rounds: expected O(log n) on
  * random/power-law graphs; the classic pivot-only worst case (a bare
  * path: trim peels 2 nodes per pass, pivots split 1 off per round →
  * O(n) rounds) is capped by CHAIN CONTRACTION below.
  *
  * Reference behavior re-expressed: the reference engine has no SCC
  * op (its graphs are its clients' adjacency files); this is part of
  * the EXTENDED analytics surface, the directed-census operator d15's
  * trade-flow questions need (g24's scaladoc, Traversals.scala).
  */
object Scc {

  /** Diagnostics from the LAST [[fwbw]] run (spec instrumentation
    * only — single-threaded test use; not part of the result
    * contract). Peel passes = combined trim+contract snapshots taken;
    * doubling rounds = total pointer-doubling self-joins; pivot
    * rounds = FW-BW rounds after peeling.
    */
  @volatile private[graft] var lastPeelPasses: Int = 0
  @volatile private[graft] var lastDoublingRounds: Int = 0
  @volatile private[graft] var lastPivotRounds: Int = 0

  /** (node, scc_id) for every node in `nodes` (isolated nodes label
    * themselves), with `scc_id` = the SCC's min node id — bit-equal to
    * g24's labels. `nodes` must be distinct (node); `edges` (src, dst)
    * may carry duplicates (deduped on entry).
    *
    * Each outer round runs a PEEL loop first — trim fused with chain
    * contraction, both off ONE node-sized degree snapshot per pass:
    *
    *   - TRIM (standard FW-BW companion): a node with no in-edge or
    *     no out-edge among its partition's live nodes sits on no
    *     cycle → labeled a singleton immediately, in bulk.
    *   - CHAIN CONTRACTION (the path-graph cap): a live node with
    *     in-degree 1 AND out-degree 1 (and no self-loop) is
    *     chain-INTERNAL — any cycle through it must use its unique
    *     in/out edges, so bypassing it preserves every SCC. All
    *     maximal chains collapse at once by pointer doubling
    *     (O(log #internal) self-joins over internal-sized tables):
    *     each internal node finds its chain's HEAD (first
    *     non-internal node backward) and TAIL (forward), the chain
    *     is replaced by one synthetic head→tail edge (sound: it
    *     mirrors an existing path, so the augmented graph has the
    *     same SCCs), and internal nodes leave the live set. A chain
    *     with no non-internal node is a PURE CYCLE — one whole SCC —
    *     detected when the head pointer is still internal after the
    *     doubling budget, and labeled by a min that doubles along
    *     with the pointer (covers the whole cycle, so every member
    *     gets the same deterministic min-id label).
    *
    * Trim alone peels a bare path 2 nodes/pass (O(n) passes) and a
    * pivot round splits only 1 node off it (O(n) rounds); contraction
    * collapses the same path in O(log n) doubling rounds inside ~2
    * peel passes — and it fires mid-loop too, when trimming exposes
    * new chains (e.g. a caterpillar's spine after its leaves peel).
    *
    * Chain-internal nodes resolve at the end: x joins SCC(head) iff
    * scc(head) == scc(tail) — head reaches x along the chain always,
    * and x reaches head iff tail does (x→tail is the chain's suffix),
    * iff head and tail share an SCC (head→tail via the chain makes
    * the other direction the only question) — else x is a singleton.
    * Chains nest (a later pass contracts an earlier chain's
    * endpoint), so resolution iterates; dependencies strictly follow
    * pass order, so it terminates in ≤ #passes node-sized joins. A
    * final group-min relabel restores scc_id = min over ALL members
    * (a chain member's id can undercut its SCC's contracted min).
    */
  def fwbw(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // Constraint propagation is disabled for the duration of the loop
    // (and restored after): Spark 4.1's constraint pipeline lets an
    // alias-derived constraint that references a NON-output attribute
    // escape through localCheckpoint (LogicalRDD stores
    // originConstraints unfiltered), and Union.rewriteConstraints
    // then throws `key not found: <attr>` when such a frame lands in
    // a union — which this loop's label/chain accumulators do every
    // pass. Inferred-constraint optimizations buy nothing here (every
    // join and filter below is explicit over checkpointed node
    // tables), and every frame this function builds is materialized
    // inside the disabled window, so checkpointed plans store empty
    // constraint sets and downstream consumers are unaffected.
    val sess = nodes.sparkSession
    val key = "spark.sql.constraintPropagation.enabled"
    val prev = sess.conf.get(key, "true")
    sess.conf.set(key, "false")
    try fwbwLoop(nodes, edges)
    finally sess.conf.set(key, prev)
  }

  private def fwbwLoop(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().localCheckpoint()
    // synthetic chain-bypass edges accumulate here (small: one per
    // contracted maximal chain); every edge consumer reads e ∪ extraE
    var extraE = e.filter(lit(false)).toDF("src", "dst").localCheckpoint()
    def allE: DataFrame = e.unionAll(extraE)
    // ONE direction-tagged edge table: d=1 forward, d=2 reversed — the
    // FW and BW waves ride the same BFS loop, so the inner loop runs
    // max(depth_fw, depth_bw) rounds instead of their sum
    val dirBase = e.withColumn("d", lit(1))
      .unionAll(e.select(col("dst").as("src"), col("src").as("dst")).withColumn("d", lit(2)))
      .localCheckpoint()
    def dirAll: DataFrame = dirBase.unionAll(
      extraE.withColumn("d", lit(1)).unionAll(
        extraE.select(col("dst").as("src"), col("src").as("dst")).withColumn("d", lit(2))))

    var active = nodes.select(col("node").cast("long").as("node"), lit(0L).as("part"))
      .localCheckpoint()
    var labeled = active.select(col("node"), col("node").as("scc_id")).filter(lit(false))
      .localCheckpoint()
    // contracted chain nodes awaiting endpoint labels: (node, head, tail)
    var chainAcc = active.select(col("node"), col("node").as("head"), col("node").as("tail"))
      .filter(lit(false)).toDF("node", "head", "tail").localCheckpoint()
    var anyChains = false
    lastPeelPasses = 0; lastDoublingRounds = 0; lastPivotRounds = 0

    // multi-pivot BFS confined to partitions: frontier ⋈ dir-edges,
    // then a semi-join against the live partition assignment keeps the
    // wave inside its own partition (an edge leaving the partition
    // leads to a node some earlier round already labeled or split away
    // — following it would break the FW-BW invariant)
    def reach(pivots: DataFrame, act: DataFrame): DataFrame = {
      // the state is the hop's new nodes; empty pivots leave the loop
      // before its first round. The visited set is a lazy union of the
      // checkpointed hops — the anti-join reads it as a cheap union
      // scan; one checkpoint at return, not one job per hop
      val hops = mutable.ArrayBuffer.empty[DataFrame]
      val (last, _) = Fixpoint.iterate(
          pivots.select(col("part"), col("pivot").as("node"),
            explode(array(lit(1), lit(2))).as("d")),
          Until.Empty(lit(true))) { (frontier, _) =>
        hops += frontier
        val visited = hops.reduce(_ unionAll _)
        val dirE = dirAll
        frontier.join(dirE,
            frontier("node") === dirE("src") && frontier("d") === dirE("d"))
          .select(frontier("part"), dirE("dst").as("node"), frontier("d")).distinct()
          .join(act, Seq("part", "node"), "left_semi")
          .join(visited, Seq("part", "node", "d"), "left_anti")
      }
      (hops :+ last).reduce(_ unionAll _).localCheckpoint()
    }

    var activeCount = active.count()
    while (activeCount > 0) {
      // ---- peel loop: trim + chain contraction off one degree
      // snapshot per pass. Each pass materializes only NODE-sized
      // frames: the live-edge join stays lazy inside one plan whose
      // output is the per-node degree table — the exploded endpoint
      // stream is narrow and map-side-combines down to node count
      // before the shuffle, so a pass never checkpoints (or
      // exchanges) anything edge-sized.
      var peeling = true
      while (peeling) {
        peeling = false
        lastPeelPasses += 1
        val preTrim = activeCount
        val flags = allE
          .join(active.select(col("node").as("src"), col("part")), Seq("src"))
          .join(active.select(col("node").as("dst"), col("part")), Seq("dst", "part"))
          .select(col("part"), explode(array(
            struct(col("src").as("node"), lit(1).as("o"), col("dst").as("nbr")),
            struct(col("dst").as("node"), lit(0).as("o"), col("src").as("nbr")))).as("x"))
          .select(col("part"), col("x.node").as("node"), col("x.o").as("o"),
            col("x.nbr").as("nbr"))
          .groupBy(col("part"), col("node"))
          .agg(sum(col("o")).as("outd"), sum(lit(1) - col("o")).as("ind"),
            min(when(col("o") === 1, col("nbr"))).as("succ"),
            min(when(col("o") === 0, col("nbr"))).as("pred"))
          .localCheckpoint()
        // -- trim: peel sources/sinks (and edgeless nodes, which have
        // no flags row) as singleton SCCs
        val (kept, keptCount) = Fixpoint.checkpointWithCount(
          active.join(
            flags.filter(col("outd") > 0 && col("ind") > 0).select(col("part"), col("node")),
            Seq("part", "node"), "left_semi"),
          lit(true))
        val trimmed = active.join(kept, Seq("part", "node"), "left_anti")
        val trimmedCount = preTrim - keptCount
        if (trimmedCount > 0) {
          // lazy accumulate — trimmed is a cheap diff of two
          // checkpointed frames; checkpointed after the peel loop
          labeled = labeled.unionAll(trimmed.select(col("node"), col("node").as("scc_id")))
          active = kept
          activeCount = keptCount
          peeling = true
        }
        // -- chain contraction over the SAME snapshot: internal ⟺
        // in-degree 1 ∧ out-degree 1 ∧ no self-loop (ind/outd > 0
        // means these rows survived the trim above). GATED on trim
        // stalling (< 5% of the live set peeled this pass): while trim
        // is making real progress the probe's two extra jobs per pass
        // are pure overhead on a chain-free graph (measured +70% on
        // the sf1 giant-SCC graph when probed every pass), and on the
        // adversarial shapes the gate fires immediately — a bare
        // path/cycle trims ~2 of n nodes per pass, far under 5%, so
        // the contraction still collapses it on the FIRST pass and the
        // O(log n) worst-case cap is unchanged (SccSpec pins it).
        if (trimmedCount * 20L < preTrim) {
        val (intr, nInt) = Fixpoint.checkpointWithCount(
          flags.filter(col("ind") === 1 && col("outd") === 1 &&
              col("succ") =!= col("node"))
            .select(col("node"), col("succ"), col("pred"))
            .toDF("node", "succ", "pred"),
          lit(true))
        if (nInt > 0) {
          peeling = true
          anyChains = true
          // jump distance 2^rounds must cover the longest chain AND
          // the min-window the longest cycle needs: both ≤ nInt
          val rounds = (64 - java.lang.Long.numberOfLeadingZeros(nInt)).toInt + 1
          val isIntr = intr.select(col("node")).toDF("node").localCheckpoint()
          // doubling table keyed by node (each node lives in exactly
          // one partition, and pointers never cross partitions, so
          // the part column can be dropped): nh follows pred, nt
          // follows succ, m carries the min id seen along nh's walk;
          // non-internal targets are absorbing (nh = nt = self)
          val absorb = intr.select(col("pred").as("node"))
            .unionAll(intr.select(col("succ").as("node"))).distinct()
            .join(isIntr, Seq("node"), "left_anti")
            .select(col("node"), col("node").as("nh"), col("node").as("nt"),
              col("node").as("m"))
          val seed = intr.select(col("node"), col("pred").as("nh"), col("succ").as("nt"),
              col("node").as("m"))
            .unionAll(absorb).toDF("node", "nh", "nt", "m").localCheckpoint()
          // stats barrier: each round joins dt against TWO projections
          // of itself, so the estimated sizeInBytes CUBES per round
          // and a checkpoint carries the BigInt forward — after ~15
          // rounds the stat is a 3^15-digit number and the driver
          // hangs multiplying it. A fresh createDataFrame over the
          // checkpointed RDD resets stats (and constraints) to leaf
          // defaults; the lineage stays truncated.
          def leaf(ck: DataFrame) = ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
          // (the seed's own statistics are still small)
          val (doubled, _) = Fixpoint.iterate(seed, Until.Rounds, rounds) { (ck, r) =>
            val dt = if (r == 1) ck else leaf(ck)
            val jh = dt.select(col("node").as("h_node"), col("nh").as("h_nh"),
              col("m").as("h_m"))
            val jt = dt.select(col("node").as("t_node"), col("nt").as("t_nt"))
            dt.join(jh, dt("nh") === jh("h_node"))
              .join(jt, dt("nt") === jt("t_node"))
              .select(dt("node"), col("h_nh").as("nh"), col("t_nt").as("nt"),
                least(dt("m"), col("h_m")).as("m"))
              .toDF("node", "nh", "nt", "m")
          }
          lastDoublingRounds += rounds
          val fin = leaf(doubled).join(isIntr, Seq("node"), "left_semi")
          // head pointer still internal after the budget ⟺ pure
          // cycle: one whole SCC, labeled by the doubled min
          val cyc = fin.join(isIntr.select(col("node").as("nh")), Seq("nh"), "left_semi")
            .select(col("node"), col("m").as("scc_id"))
            .toDF("node", "scc_id").localCheckpoint()
          val chains = fin.join(isIntr.select(col("node").as("nh")), Seq("nh"), "left_anti")
            .select(col("node"), col("nh").as("head"), col("nt").as("tail"))
            .toDF("node", "head", "tail").localCheckpoint()
          labeled = labeled.unionAll(cyc)
          // lazy accumulate — the chain-resolution loop checkpoints
          // and sizes it once, in its seed's job
          chainAcc = chainAcc.unionAll(chains).toDF("node", "head", "tail")
          extraE = extraE.unionAll(
              chains.select(col("head").as("src"), col("tail").as("dst")).distinct())
            .distinct().toDF("src", "dst").localCheckpoint()
          val (act2, act2N) = Fixpoint.checkpointWithCount(
            active.join(isIntr, Seq("node"), "left_anti").toDF("node", "part"),
            lit(true))
          active = act2
          activeCount = act2N
        }
        }
      }
      labeled = labeled.toDF("node", "scc_id").localCheckpoint()
      if (activeCount > 0) {
        // ---- one pivot FW-BW round over the surviving cyclic cores
        lastPivotRounds += 1
        val pivots = active.groupBy(col("part"))
          .agg(min(col("node")).as("pivot")).localCheckpoint()
        val vis = reach(pivots, active)
        val fw = vis.filter(col("d") === 1).select(col("part"), col("node"))
        val bw = vis.filter(col("d") === 2).select(col("part"), col("node"))
        val scc = fw.join(bw, Seq("part", "node"), "left_semi").localCheckpoint()
        labeled = labeled.unionAll(
          scc.join(pivots, Seq("part")).select(col("node"), col("pivot").as("scc_id")))
          .localCheckpoint()
        // three-way split of the unlabeled remainder; scc ⊆ fw ∩ bw, so
        // a remainder node is in at most ONE of fw/bw and the branch
        // code is well-defined
        val (act3, act3N) = Fixpoint.checkpointWithCount(
          active.join(scc, Seq("part", "node"), "left_anti")
            .join(fw.withColumn("in_fw", lit(1)), Seq("part", "node"), "left")
            .join(bw.withColumn("in_bw", lit(1)), Seq("part", "node"), "left")
            .join(pivots, Seq("part"))
            .select(col("node"),
              (col("pivot") * 4 +
                when(col("in_fw") === 1, 1)
                  .when(col("in_bw") === 1, 2)
                  .otherwise(3)).as("part")),
          lit(true))
        active = act3
        activeCount = act3N
      }
    }

    if (!anyChains) labeled
    else {
      // ---- resolve contracted chain nodes against the final
      // endpoint labels (iteratively: nested chains wait for their
      // endpoints' own resolution; strict pass-order dependency
      // guarantees progress)
      Fixpoint.iterate(chainAcc, Until.Empty(lit(true))) { (pending, _) =>
        val lh = labeled.select(col("node").as("head"), col("scc_id").as("h_scc"))
        val lt = labeled.select(col("node").as("tail"), col("scc_id").as("t_scc"))
        val resolved = pending.join(lh, Seq("head")).join(lt, Seq("tail"))
          .select(col("node"),
            when(col("h_scc") === col("t_scc"), col("h_scc")).otherwise(col("node"))
              .as("scc_id"))
          .toDF("node", "scc_id").localCheckpoint()
        labeled = labeled.unionAll(resolved)
          .toDF("node", "scc_id").localCheckpoint()
        pending.join(resolved.select(col("node")), Seq("node"), "left_anti")
          .toDF("node", "head", "tail")
      }
      // group-min relabel: a chain member's id can undercut the
      // contracted SCC's min, and g24's contract is min over ALL
      // members. Map-side-combining groupBy (one row per SCC on the
      // exchange) joined back — the d17 census shape.
      val remap = labeled.groupBy(col("scc_id")).agg(min(col("node")).as("true_id"))
      labeled.join(remap, Seq("scc_id"))
        .select(col("node"), col("true_id").as("scc_id"))
    }
  }
}
