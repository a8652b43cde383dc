package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** The rounds every iterative loop shares, written once.
  *
  * A loop is Pregel-shaped (GraphX builds the same pattern as one
  * operator over dataflow joins): a state table, one join round per
  * iteration, and a probe that decides whether another round is
  * needed. The pieces here own the decisions those loops used to
  * restate by hand:
  *   - [[checkpointWithCount]]: truncate the round's lineage and answer
  *     its continue-probe in ONE Spark job;
  *   - [[resident]]: the edge table partitioned on the round's join key
  *     once, cached for the loop's lifetime and released however the
  *     loop ends;
  *   - [[frontier]]: the tagged round — the state carries the round a
  *     row last changed in a tag column, so the next frontier is
  *     exactly `tag === round` and its size comes from the same job
  *     that materializes the state;
  *   - [[iterate]]: the round of a loop with no frontier — the step
  *     sees the whole state, and the loop runs a fixed number of
  *     rounds or stops on a count the round's own checkpoint job takes
  *     ([[Until]]).
  *
  * On [[frontier]]: `bfsLevels` (and `reachableFrom`, its uncapped
  * form) over an edge table too large to broadcast, `closurePairs`,
  * g14, both SSSP forms (g08 is `ssspConverged` capped at 4 rounds)
  * and `labelPropagate` (hash-min with a `min(struct(comp, tag))`
  * merge).
  *
  * On [[iterate]]:
  *   - fixed rounds: PageRank (g09, g16), LPA (g27), both Lloyd fits
  *     (`Kmeans.fit`, `Pq.fit`), Betweenness' backward pass and Scc's
  *     pointer-doubling walk;
  *   - count unchanged: `kCoreBipartite` (g12);
  *   - count zero: `OrderStats`' selection (open ranges),
  *     ReachSketch's rounds (nodes whose registers grew), Betweenness'
  *     forward pass (the new level), `unfoldPaths` (walking rows),
  *     `Scc.reach` (the new hop) and Scc's chain resolution (pending
  *     chain nodes).
  * Loops that read older rounds keep those frames themselves:
  * ReachSketch's per-round registers, Betweenness' levels, the
  * visited hops of `Scc.reach`, `unfoldPaths`' jump table and
  * finished walks. Betweenness' forward pass and `Scc.reach` measured
  * worse on [[frontier]] (its union-merged state piled up partitions:
  * g29 tasks 122 → 288; g25 shuffle rows 975 → 1079 at sf0.01); on
  * [[iterate]] their state is the new level or hop alone, the plan
  * they had by hand.
  *
  * Hand-written still: Scc's peel pass and its FW-BW outer round. A
  * pass updates four tables (live nodes, labels, the chain
  * accumulator, bypass edges), continues on either of two probes (trim
  * progress or a chain found), and takes the chain probe only when
  * trim stalls; no single state and count describe it.
  *
  * [[Par.broadcastSized]] is the one size test behind
  * [[keyedResident]]'s layout, `bfsLevels`' choice of its driver-side
  * path, `GraphStore.put`'s choice of its driver-side write and
  * `GraphStore`'s choice of the versions whose rows it keeps.
  */
object Fixpoint {

  /** Checkpoint `df` and count its rows matching `pred` in ONE Spark
    * job. The checkpoint is LAZY; the counting action computes every
    * partition of the checkpointed RDD, so materialization rides the
    * same job that answers the loop's continue-probe — one scheduler
    * round-trip per round instead of an eager-checkpoint job plus an
    * isEmpty/convergence job (on a cluster, one barrier per round
    * fewer: the iterative family's true scale cost). Semantics equal
    * the eager form: localCheckpoint(eager = false) returns the same
    * LogicalRDD-backed frame, and the count's full-partition pass is
    * exactly the materialization the eager form runs internally.
    */
  private[graft] def checkpointWithCount(df: DataFrame, pred: Column): (DataFrame, Long) = {
    val ck = df.localCheckpoint(eager = false)
    // RDD-level count, NOT Dataset.count(): the SQL count plans a
    // partial-agg + single-partition exchange, which AQE materializes
    // as its own extra job — toRdd.count() sums per-partition counts
    // on the driver in exactly ONE job with no exchange. It runs under
    // its own SQL execution id like any Dataset action, so listeners
    // and the UI attribute the job to a query.
    val probe = ck.filter(pred).queryExecution
    (ck, SQLExecution.withNewExecutionId(probe, Some("checkpointWithCount"))(
      probe.toRdd.count()))
  }

  /** Run `body` over `df` partitioned by `key` and cached, then release
    * the cache — also when `body` throws or its job is cancelled.
    * Everything `body` returns must be checkpointed (the loop states
    * are), so nothing downstream re-reads the released table.
    */
  private[graft] def resident[T](df: DataFrame, key: String)(body: DataFrame => T): T = {
    val e = keyedResident(df, key)
    try body(e) finally e.unpersist(blocking = false)
  }

  /** Iterate the tagged round from `seed` until a round changes no row
    * or `maxRounds` rounds ran. Round `r` calls `step(state, frontier,
    * r)` for the merged next state — rows the round changed carry `r`
    * in column `tag` — and that state's checkpoint and its `tag === r`
    * count are one job. The seed is checkpointed and counted the same
    * way, so an empty seed runs no round. Returns the final
    * (checkpointed) state and the number of rounds run, the last,
    * empty-frontier one included.
    */
  private[graft] def frontier(seed: DataFrame, tag: String, maxRounds: Int = Int.MaxValue)(
      step: (DataFrame, DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    var (state, changed) = checkpointWithCount(seed, lit(true))
    var front = state
    var round = 0
    while (changed > 0 && round < maxRounds) {
      round += 1
      val (next, n) = checkpointWithCount(step(state, front, round), col(tag) === round)
      state = next
      changed = n
      front = state.filter(col(tag) === round)
    }
    (state, round)
  }

  /** When an [[iterate]] loop stops. */
  sealed abstract class Until

  object Until {
    /** Exactly `maxRounds` rounds, with no probe. The seed is taken as
      * given, and each round's state is checkpointed eagerly: one job
      * that materializes it. Two probed forms measured worse: the lazy
      * checkpoint of [[checkpointWithCount]] under an always-true probe
      * planned g29's backward joins into 2 more jobs and 185.5k
      * shuffled rows against 152.9k (sf0.01), and an always-false probe
      * materializes nothing — the optimizer folds its filter into an
      * empty relation, so the count never computes the checkpoint.
      */
    case object Rounds extends Until

    /** A rule on the count of state rows matching `probe`, which the
      * job that checkpoints each round's state takes.
      */
    sealed abstract class Counted(val probe: Column) extends Until {
      private[Fixpoint] def done(previous: Long, count: Long): Boolean
    }

    /** Until a round's count equals the one before it — a peel, whose
      * state only shrinks, has then stopped shrinking.
      */
    final case class Unchanged(p: Column) extends Counted(p) {
      private[Fixpoint] def done(previous: Long, count: Long) = count == previous
    }

    /** Until a round's count is zero. */
    final case class Empty(p: Column) extends Counted(p) {
      private[Fixpoint] def done(previous: Long, count: Long) = count == 0
    }
  }

  /** Iterate `step(state, round)` from `seed` until `until` holds or
    * `maxRounds` rounds ran, one job per round. Under a count rule the
    * seed is checkpointed and probed in one job first, so an
    * [[Until.Empty]] seed runs no round. Only the current state is
    * held, so no old checkpoint stays pinned; a loop that reads older
    * rounds keeps those frames itself. Returns the final state and the
    * number of rounds run.
    */
  private[graft] def iterate(seed: DataFrame, until: Until, maxRounds: Int = Int.MaxValue)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Int) = until match {
    case Until.Rounds =>
      require(maxRounds < Int.MaxValue, "a fixed-round loop needs maxRounds")
      ((1 to maxRounds).foldLeft(seed)((state, round) => step(state, round).localCheckpoint()),
        maxRounds)
    case rule: Until.Counted =>
      var (state, count) = checkpointWithCount(seed, rule.probe)
      var previous = -1L
      var round = 0
      while (round < maxRounds && !rule.done(previous, count)) {
        round += 1
        previous = count
        val (next, n) = checkpointWithCount(step(state, round), rule.probe)
        state = next
        count = n
      }
      (state, round)
  }

  private val scopes = new java.util.concurrent.atomic.AtomicLong

  /** The edge table of one [[resident]] scope. Two measured choices:
    *   - `persist`, not `localCheckpoint`: under AQE a checkpoint's
    *     LogicalRDD reports UnknownPartitioning (every round's join
    *     re-exchanged the WHOLE edge table) and loses its size
    *     statistics (every per-round broadcast of the edge side was
    *     demoted to a shuffled join: g29 +26% wall, +0.35M shuffled
    *     rows); a cached plan keeps both, since AQE may not change a
    *     cached plan's output partitioning;
    *   - size-adaptive, the same runtime-statistics decision AQE makes
    *     for joins, by the shared size test [[Par.broadcastSized]]: a
    *     table under the broadcast threshold is cached as-is and
    *     re-broadcast per round
    *     (repartitioning it measured +0.1-0.3 s per query on the
    *     25-node nation spine); a larger one is partitioned on `key`
    *     into the session's shuffle-partition count, so each round
    *     exchanges only the frontier.
    * Returning the frame uncached is no good either: derivations that
    * contain an exchange (PageRank's distinct) would re-run every round
    * (g09/g16 shuffle rows 1.2k → 7.4k).
    *
    * Spark's cache manager keys entries by logical plan and does not
    * count references, so a cache of the caller's plan would be shared
    * with any caller holding an equal one (concurrent reads of one
    * stored graph version build identical plans), and whichever scope
    * ends first would evict the others' table. The cached plan is
    * therefore made unique to this scope by an always-true filter on
    * the scope's own number; the optimizer drops the filter, so the
    * cached data and its plan are the caller's.
    */
  private def keyedResident(df: DataFrame, key: String): DataFrame = {
    val scope = lit(scopes.incrementAndGet())
    val own = df.where(scope === scope)
    if (Par.broadcastSized(df)) return own.persist()
    // also sorted within partitions: the cached plan's outputOrdering
    // survives (like its partitioning), so a sort-merge round join at
    // the wavefront peak never re-sorts the edge side; one sort at
    // cache build, not one per round. Join strategy per round is left
    // to AQE: small frontiers convert to broadcast at runtime (the
    // measured local winner — a forced SHUFFLE_HASH was 2.4x slower),
    // big frontiers stay sort-merge against the pre-sorted cache.
    own.repartition(Par.shufflePartitions(df.sparkSession), col(key))
      .sortWithinPartitions(key).persist()
  }
}
