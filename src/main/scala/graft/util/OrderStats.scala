package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.DoubleOrderBits.orderBits
import graft.util.Fixpoint.Until

/** Exact interpolated percentiles (`percentile_cont`), one entry for
  * every caller: [[percentiles]] takes a frame, its group columns and
  * a list of (value column, percentage, output name) requests, and
  * returns one row per group.
  *
  * The switch, stated once here for q11, q16 and e10: the entry counts
  * its input, and up to 4M rows (`BuiltinEnvelopeRows`) it runs Spark's
  * one-job built-in `percentile` aggregate; past that it runs the
  * distributed selection below. The built-in's per-group state is a
  * (value → count) map — safe while distinct values stay far under the
  * envelope — and it costs one job where the selection costs ~4
  * driver-synchronized ones (measured 0.1 s vs 1.4 s on q11 at sf0.1).
  * Past the envelope the selection wins outright: near-unique double
  * columns make the built-in's buffer O(rows per group), and a single
  * group (q16's shape) is one reduce task sorting every row (measured
  * 5.6× growth at 10× data). Both paths are bit-equal
  * (OrderStatsSpec), so the switch changes the PLAN, never the answer.
  *
  * The selection is iterative histogram refinement, generalized over
  * groups, with ALL per-group state held in DataFrames — the driver
  * only ever sees scalars (group-cardinality estimate, open-range
  * count, tail rank bound), so group cardinality is unbounded (the
  * per-customer-percentile shape a training pipeline hits at 100 TB).
  *
  *  1. Every requested (group, rank) starts with the group's global
  *     [min, max] range and its 0-based target index.
  *  2. A round histograms each unresolved range into B buckets and
  *     keeps, per bucket, (count, min, max). The bucket containing
  *     the target index becomes the new range — crucially the new
  *     bounds are the bucket's ACTUAL min/max values, so the
  *     closed-interval membership test `lo <= v AND v <= hi` is exact
  *     (bucket assignment is monotone in v, so the interval [min_b,
  *     max_b] contains exactly the bucket's rows — no float-boundary
  *     drift between the histogram and the next round's filter).
  *  3. A range resolves when it collapses to a single value (lo == hi
  *     — duplicates can't be split, but then every order statistic in
  *     the range IS that value) or its row count drops to at most
  *     `tailK`, where a final bounded top-k aggregate
  *     ([[graft.functions.TopKAggregate]], k bounded by the largest
  *     remaining in-range rank — map-side partial, no sort) selects
  *     the exact value.
  *
  * Buckets are cut in the IEEE-754 BIT space of the value
  * ([[graft.functions.DoubleOrderBits]]): a range holds at most 2^64
  * distinct bit values and every round divides that integer width by
  * B (bucket arithmetic runs in exact DECIMAL — no float rounding can
  * stall the shrink), so convergence within ceil(64 / log2 B) + 1
  * rounds is STRUCTURAL — independent of n and of the value
  * distribution. Value-space bucketing cannot promise that: on
  * log-spread data (values spanning hundreds of binades with the
  * mass in the low tail) a linear split eliminates only a few binades
  * per round.
  *
  * Several value columns share one selection: their rows stack under
  * a composite group key (the request's value-column tag plus the
  * group columns), so their histogram rounds share every pass over the
  * data instead of paying the engine's fixed job count per column.
  * The key is a non-null string image `gk` (the JSON array of the tag
  * and the group values cast to string), so
  *  - NULL groups flow through like any other group — matching the
  *    built-in aggregate's GROUP BY semantics;
  *  - every engine join is a plain equi-join on `gk`, which the
  *    co-partitioned layout below satisfies with no extra exchange
  *    (null-safe joins would be rewritten around coalesced keys and
  *    stop matching the cached partitioning).
  * Group columns must be atomic types (their string image must
  * separate distinct values); the original columns are carried
  * alongside and restored in the output.
  *
  * Distribution of the per-round state join (range → rows) is
  * adaptive on the MEASURED group cardinality:
  *  - at most [[GroupBroadcastEnvelope]] groups: broadcast the range
  *    table over the naturally-partitioned values (a few MB; one
  *    global group — q16 — stays a broadcast of a handful of rows);
  *  - beyond it: the values are hash-partitioned by `gk` ONCE and
  *    persisted; each round shuffle-hash-joins the small range table
  *    into that layout, so the big side never re-exchanges.
  */
object OrderStats {

  /** One request: `percentile_cont(p) WITHIN GROUP (ORDER BY value)`,
    * output as column `name`.
    */
  final case class Percentile(value: Column, p: Double, name: String)

  /** Input rows up to which the built-in aggregate runs (class doc). */
  private val BuiltinEnvelopeRows: Long = 4L * 1000 * 1000

  /** Group-cardinality envelope under which the per-round range table
    * is broadcast (state rows = groups × open ranks; 64k groups × a
    * few ranks ≈ single-digit MB). Past it, values are co-partitioned
    * by group once and the state is shuffle-hash-joined in — the plan
    * that holds at unbounded cardinality.
    */
  private[graft] val GroupBroadcastEnvelope: Long = 65536L

  /** Auto-sized histogram width when `buckets` is 0. Two
    * opposing forces, both measured on q11/q16 at sf1: wider buckets
    * collapse the round count (ceil(64 / log2 B) + 1: 8 at B=256, 6
    * at B=4096), but the histogram's map-side partial aggregation
    * only compresses while its key space (open ranges × B) stays far
    * below the row count — at B=65536 near-unique values spread over
    * ~1.5M keys, partial maps stopped deduplicating, and the
    * "summary" shuffle approached a full-data shuffle per round
    * (q16 warm 3.5 s → 5.2 s, q11 stacked WORSE than unstacked). The
    * ~256k-cell target with a 4096 cap keeps every task's partial
    * hash cache-resident at any group cardinality; past ~1k ranges
    * the width backs off toward the floor so the summary, not the
    * data, stays the shuffled object.
    */
  private[util] def autoBuckets(nRanges: Long): Int =
    math.max(256L, math.min(4096L,
      (256L * 1024) / math.max(nRanges, 1L))).toInt

  // ---- internal engine ------------------------------------------------

  /** Exact selection over prepared inputs.
    *
    * @param vp     (gk string, v double) — persisted; hash-partitioned
    *               by gk when `broadcastState` is false
    * @param state0 (gk, rank, lo, hi, t, cnt): target rank's current
    *               range [lo, hi], 0-based index t within it, rows cnt
    * @return (gk, rank, value)
    */
  private def runSelection(vp: DataFrame, state0: DataFrame,
      broadcastState: Boolean, buckets: Int, tailK: Int,
      stateRows: Long): DataFrame = {
    val openCond = col("lo") =!= col("hi") && col("cnt") > tailK
    // ceil(64 / log2 B) + 1 structural bound (see scaladoc) + slack
    val maxRounds = 64 / (31 - Integer.numberOfLeadingZeros(buckets)) + 5

    // The data-side join fans each row out to its group's DISTINCT
    // open (lo, hi) ranges only — in round 1 every rank of a group
    // shares the group's [min, max], so without the dedup the first
    // (and dominant: it sees all rows) round multiplies the scan by
    // the rank count (4× on q11, 18× on q16 — measured 8.3 s warm for
    // q11's round 1 at sf1, dominated by exactly this fan-out). The
    // per-rank bookkeeping (rank, t) rejoins on the summary side,
    // where rows number ranges × B, not n.
    def ranges(st: DataFrame): DataFrame = {
      val renamed = st.select(col("gk").as("rgk"), col("lo").as("rlo"),
        col("hi").as("rhi")).distinct()
      if (broadcastState) broadcast(renamed) else renamed.hint("shuffle_hash")
    }
    def inRange(): Column =
      col("gk") === col("rgk") && col("v") >= col("rlo") && col("v") <= col("rhi")

    // State partitioning follows the regime. In the broadcast regime
    // (≤ GroupBroadcastEnvelope groups) state is a few MB at most —
    // ONE partition makes every state op one task, and the per-round
    // probe one job (on a 32-partition empty state, Dataset.isEmpty's
    // take(1) escalated through partition waves — several JOBS per
    // probe, measured as the dominant fixed cost of q16's ~10-job
    // chain at sf0.1). Past the envelope state is groups × open ranks
    // rows — potentially tens of millions — and one task/executor
    // holding all of it is both a bottleneck and an OOM point, so it
    // stays spread at ~64k rows/partition (coalesce is a narrow
    // dependency: no shuffle of the state either way). The probe is a
    // count in both regimes, taken by the job that checkpoints the
    // round's state ([[Fixpoint.iterate]]): one job per round at any
    // partition count, where isEmpty degrades to take(1)'s
    // partition-wave escalation on a spread state.
    val statePartitions =
      if (broadcastState) 1
      else math.max(1L, math.min(stateRows / 65536L + 1L, 100000L)).toInt
    // coalesce when narrowing (no shuffle); repartition when the state
    // needs MORE partitions than its producing join's
    // shuffle-partition count gave it (coalesce cannot grow a
    // partitioning, and leaving a billion-group state in 32
    // partitions is the OOM this path exists to avoid) — the
    // round-cost is a state-sized shuffle, summary rows only
    def spread(df: DataFrame): DataFrame =
      if (statePartitions <= df.rdd.getNumPartitions) df.coalesce(statePartitions)
      else df.repartition(statePartitions)
    val (state, _) = Fixpoint.iterate(spread(state0), Until.Empty(openCond)) { (state, round) =>
      require(round <= maxRounds, s"selection exceeded the structural " +
        s"round bound ($maxRounds for B=$buckets): bit-space ranges must " +
        "shrink B-fold per round — this indicates a bucket-arithmetic bug, " +
        "not an input property")
      val active = state.filter(openCond)
      val rest = state.filter(!openCond)
      // exact integer bucket arithmetic in the value's bit space:
      // DECIMAL(38,·) holds the full 2^64 span, decimal rounding is
      // monotone, and once a range's bit width drops under B the step
      // clamps to 1 — singleton buckets, so the next round resolves.
      val dec = DecimalType(21, 0)
      val mLo = orderBits(col("rlo")).cast(dec)
      val mHi = orderBits(col("rhi")).cast(dec)
      val mV = orderBits(col("v")).cast(dec)
      val step = greatest(ceil((mHi - mLo + lit(1)) / lit(buckets)), lit(1))
      val b = least(greatest(floor((mV - mLo) / step), lit(0)),
        lit(buckets - 1)).cast("int")
      val hist = vp.join(ranges(active), inRange())
        .withColumn("b", b)
        .groupBy(col("rgk"), col("rlo"), col("rhi"), col("b"))
        .agg(count(lit(1)).as("bcnt"), min(col("v")).as("bmn"),
          max(col("v")).as("bmx"))
      // pick each rank's target bucket with a window + join over the
      // small (distinct range × bucket) summary — fully distributed;
      // double-equality on (lo, hi) is exact because the state's
      // bounds are copied bit-for-bit from these summaries' min/max
      val wcum = Window.partitionBy(col("rgk"), col("rlo"), col("rhi"))
        .orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)
      val cums = hist
        .withColumn("cum", coalesce(sum(col("bcnt")).over(wcum), lit(0L)))
      val picked = active.join(cums,
          col("gk") === col("rgk") && col("lo") === col("rlo") &&
            col("hi") === col("rhi"))
        .filter(col("cum") <= col("t") && col("t") < col("cum") + col("bcnt"))
        .select(col("gk"), col("rank"), col("bmn").as("lo"),
          col("bmx").as("hi"), (col("t") - col("cum")).as("t"),
          col("bcnt").as("cnt"))
      spread(rest.unionByName(picked))
    }

    val direct = state.filter(col("lo") === col("hi"))
      .select(col("gk"), col("rank"), col("lo").as("value"))
    val tails = state.filter(col("lo") =!= col("hi"))
    // one aggregate probes existence AND the k bound together (max is
    // NULL exactly when no tail range remains)
    val kRow = tails.agg(max(col("t"))).head()
    if (kRow.isNullAt(0)) direct
    else {
      // k bound: a scalar (the largest remaining in-range index, < tailK
      // by the loop's exit condition), NOT per-group driver state.
      // One bounded top-k per DISTINCT range (the ranges() dedup), each
      // rank reading its element from the shared array.
      val kMax = kRow.getLong(0).toInt + 1
      val tops = vp.join(ranges(tails), inRange())
        .groupBy(col("rgk"), col("rlo"), col("rhi"))
        .agg(graft.functions.TopKAggregate.topKScored(
          -col("v"), lit(0L), kMax).as("top"))
      val tailRes = tails.join(tops,
          col("gk") === col("rgk") && col("lo") === col("rlo") &&
            col("hi") === col("rhi"))
        .select(col("gk"), col("rank"),
          (-element_at(col("top"), (col("t") + 1).cast("int"))
            .getField("score")).as("value"))
      direct.unionByName(tailRes)
    }
  }

  // ---- the entry -----------------------------------------------------

  /** Exact `percentile_cont` of each request, one row per group of
    * `groups` (none: one global row): the group columns, then the
    * requests' columns, then `aggs` — plain aggregates computed over
    * the same groups, so a caller that also needs counts or sums reads
    * its input once more at most. The built-in aggregate or the
    * selection, by input size (class doc).
    */
  def percentiles(df: DataFrame, groups: Seq[String], requests: Seq[Percentile],
      aggs: Seq[Column] = Nil): DataFrame =
    percentiles(df, groups, requests, aggs, forceSelection = false,
      buckets = 0, tailK = 8192)

  /** [[percentiles]] with the selection's knobs: `forceSelection` skips
    * the envelope, `buckets` is the histogram width (0: auto-sized) and
    * `tailK` the range size the final top-k resolves.
    */
  private[graft] def percentiles(df: DataFrame, groups: Seq[String],
      requests: Seq[Percentile], aggs: Seq[Column], forceSelection: Boolean,
      buckets: Int, tailK: Int): DataFrame = {
    require(requests.nonEmpty, "no percentiles requested")
    requests.foreach(r =>
      require(r.p >= 0.0 && r.p <= 1.0, s"percentage ${r.p} out of [0, 1]"))
    require(buckets == 0 || buckets >= 2, s"buckets must be 0 or >= 2, got $buckets")
    // the tail path's bounded top-k (TopKAggregate) hard-caps k at
    // 8192, and its k can reach tailK
    require(tailK >= 1 && tailK <= 8192,
      s"tailK must be in [1, 8192] (TopKAggregate's k cap), got $tailK")
    if (!forceSelection && df.count() <= BuiltinEnvelopeRows) {
      val cols = requests.map(r => percentile(r.value, lit(r.p)).as(r.name)) ++ aggs
      df.groupBy(groups.map(col): _*).agg(cols.head, cols.tail: _*)
    } else selection(df, groups, requests, aggs, buckets, tailK)
  }

  /** The past-envelope plan: one stacked selection over every value
    * column, pivoted back to one row per group and joined to `aggs`.
    */
  private def selection(df: DataFrame, groups: Seq[String],
      requests: Seq[Percentile], aggs: Seq[Column], buckets: Int,
      tailK: Int): DataFrame = {
    val values = requests.map(_.value).distinct
    val tagOf = requests.map(r => values.indexOf(r.value))
    val pcts = values.indices.map(t =>
      requests.zip(tagOf).collect { case (r, `t`) => r.p }.distinct)
    val gs = groups.indices.map(i => s"os_g$i")
    val gcols = gs.map(col)
    val stacked = values.zipWithIndex.map { case (v, t) =>
      df.select((lit(t).as("tag") +: groups.zip(gs).map { case (g, n) => col(g).as(n) }) :+
        v.cast("double").as("v"): _*)
    }.reduce(_ unionAll _)
    val base = stacked
      .withColumn("gk", to_json(array(col("tag").cast("string") +:
        gcols.map(_.cast("string")): _*)))
      .filter(col("v").isNotNull)
      .persist()
    val picked = try {
      // lazy checkpoint: the count() right below materializes it, so
      // the summary costs one job, not two
      val heads = base.groupBy(col("gk"))
        .agg(first(col("tag")).as("tag"), (gs.map(g => first(col(g)).as(g)) ++
          Seq(count(lit(1)).as("n"), min(col("v")).as("mn"),
            max(col("v")).as("mx"))): _*)
        .localCheckpoint(false)
      val nGroups = heads.count()
      val stateRows = nGroups * 2L * pcts.map(_.size).max
      val broadcastState = nGroups <= GroupBroadcastEnvelope
      val b = if (buckets > 0) buckets else autoBuckets(stateRows)
      val vp = if (broadcastState) base.select(col("gk"), col("v"))
      else {
        val r = base.select(col("gk"), col("v")).repartition(col("gk")).persist()
        r.count() // materialize the co-partitioned layout once
        r
      }
      try {
        // each stacked group asks for its own column's percentages only
        val parr = element_at(array(pcts.map(ps => array(ps.map(lit): _*)): _*),
          col("tag") + 1)
        val pmap = heads
          .select((Seq(col("gk"), col("tag")) ++ gcols ++ Seq(col("n"),
            col("mn"), col("mx"), explode(parr).as("p"))): _*)
          .withColumn("pos", col("p") * (col("n") - 1).cast("double"))
          .withColumn("rlo", floor(col("pos")).cast("long"))
          .withColumn("rhi", ceil(col("pos")).cast("long"))
        val state0 = pmap
          .select(col("gk"), explode(array(col("rlo"), col("rhi"))).as("rank"),
            col("mn"), col("mx"), col("n"))
          .groupBy(col("gk"), col("rank"))
          .agg(first(col("mn")).as("lo"), first(col("mx")).as("hi"),
            first(col("n")).as("cnt"))
          .select(col("gk"), col("rank"), col("lo"), col("hi"),
            col("rank").as("t"), col("cnt"))
        val r = runSelection(vp, state0, broadcastState, b, tailK, stateRows)
        val rlo = r.select(col("gk").as("lgk"), col("rank").as("lrank"),
          col("value").as("vlo"))
        val rhi = r.select(col("gk").as("hgk"), col("rank").as("hrank"),
          col("value").as("vhi"))
        // same interpolation as percentile_cont: position p·(n−1),
        // (hi−pos)·v[lo] + (pos−lo)·v[hi]
        pmap
          .join(rlo, col("gk") === col("lgk") && col("rlo") === col("lrank"))
          .join(rhi, col("gk") === col("hgk") && col("rhi") === col("hrank"))
          .select((col("tag") +: gcols) ++ Seq(col("p"),
            when(col("rlo") === col("rhi"), col("vlo"))
              .otherwise(
                (col("rhi").cast("double") - col("pos")) * col("vlo") +
                  (col("pos") - col("rlo").cast("double")) * col("vhi"))
              .as("value")): _*)
          .localCheckpoint() // materialize so the persisted inputs can go
      } finally if (!broadcastState) vp.unpersist()
    } finally base.unpersist()
    val cols = requests.zip(tagOf).map { case (r, t) =>
      first(when(col("tag") === t && col("p") === r.p, col("value")),
        ignoreNulls = true).as(r.name)
    }
    val wide = picked.groupBy(gcols: _*).agg(cols.head, cols.tail: _*)
    // every group of `df` gets its row, as under the built-in aggregate
    // (a group whose values are all NULL reads NULL percentiles)
    val perGroup = df.groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("os_rows"), aggs: _*)
    val on = groups.zip(gs).map { case (g, n) => col(g) <=> col(n) }
      .reduceOption(_ && _).getOrElse(lit(true))
    perGroup.join(wide, on, "left")
      .select((groups ++ requests.map(_.name) ++
        perGroup.columns.drop(groups.size + 1)).map(col): _*)
  }
}
