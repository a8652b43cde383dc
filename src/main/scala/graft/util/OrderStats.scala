package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.DoubleOrderBits.orderBits
import graft.util.Fixpoint.Until

/** Distributed EXACT order statistics (selection) — the scale-safe
  * replacement for `percentile_cont`, whose physical plan buffers
  * every group's full value list in the aggregate (one group = a
  * single reduce task sorting every row, measured 5.6× growth at 10×
  * data on q16; bounded groups still grow their per-group buffers
  * linearly with the data, q11/e10).
  *
  * Method: iterative histogram refinement, generalized over groups,
  * with ALL per-group state held in DataFrames — the driver only ever
  * sees scalars (group-cardinality estimate, open-range count, tail
  * rank bound), so group cardinality is unbounded (the per-customer-
  * percentile shape a training pipeline hits at 100 TB).
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
  * Group-key plumbing: groups are keyed internally by a non-null
  * string image `gk` (a null flag + the value cast to string), so
  *  - NULL groups flow through like any other group — matching the
  *    built-in aggregate's GROUP BY semantics, which q11/e10's
  *    adaptive switch relies on (the plan changes, never the answer);
  *  - every engine join is a plain equi-join on `gk`, which the
  *    co-partitioned layout below satisfies with no extra exchange
  *    (null-safe joins would be rewritten around coalesced keys and
  *    stop matching the cached partitioning).
  * Group columns must be atomic types (their string image must
  * separate distinct values); the original column is carried
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

  /** Input-rows envelope under which callers prefer the built-in
    * single-pass percentile aggregate: its per-group state is a
    * (value → count) map — safe while distinct values stay far under
    * the envelope — and it costs ONE job where the selection path
    * costs ~4 driver-synchronized jobs (measured 0.1 s vs 1.4 s on
    * q11 at sf0.1). Past the envelope the selection path wins
    * outright: near-unique double columns make the buffer O(rows per
    * group), and the one-job advantage drowns in the buffered sort.
    * Both paths are bit-equal (OrderStatsSpec), so the switch changes
    * the PLAN, never the answer — the standard adaptive-execution
    * trade, made on a deterministic row count.
    */
  val BuiltinEnvelopeRows: Long = 4L * 1000 * 1000

  /** Group-cardinality envelope under which the per-round range table
    * is broadcast (state rows = groups × open ranks; 64k groups × a
    * few ranks ≈ single-digit MB). Past it, values are co-partitioned
    * by group once and the state is shuffle-hash-joined in — the plan
    * that holds at unbounded cardinality.
    */
  val GroupBroadcastEnvelope: Long = 65536L

  /** Auto-sized histogram width for `buckets = 0` call sites. Two
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
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    // fail at the API boundary, not inside the final aggregate: the
    // tail path's bounded top-k (TopKAggregate) hard-caps k at 8192,
    // and kMax below can reach tailK
    require(tailK >= 1 && tailK <= 8192,
      s"tailK must be in [1, 8192] (TopKAggregate's k cap), got $tailK")
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

  /** Non-null string image of the group column: distinct atomic values
    * map to distinct strings, NULL maps to its own key.
    */
  private def groupKey(g: Column): Column =
    concat(when(g.isNull, lit("n")).otherwise(lit("v")),
      coalesce(g.cast("string"), lit("")))

  // ---- public API -----------------------------------------------------

  /** Exact 0-based order statistics of `col` in `df` (one global
    * group).
    *
    * @return rank -> value, for each requested rank (ranks must be in
    *         [0, n); duplicates in `ranks` are fine)
    */
  def orderStatistics(df: DataFrame, valueCol: String, ranks: Seq[Long],
      buckets: Int = 0, tailK: Int = 8192): Map[Long, Double] = {
    require(ranks.nonEmpty, "no ranks requested")
    val spark = df.sparkSession
    import spark.implicits._
    val vp = df.select(lit("g").as("gk"), col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull).persist()
    try {
      val head = vp.groupBy(col("gk"))
        .agg(count(lit(1)).as("n"), min(col("v")).as("mn"), max(col("v")).as("mx"))
        .collect().headOption
        .getOrElse(throw new IllegalArgumentException("no rows to select from"))
      val (n, mn, mx) = (head.getLong(1), head.getDouble(2), head.getDouble(3))
      ranks.foreach(r =>
        require(r >= 0 && r < n, s"rank $r out of [0, $n)"))
      val state0 = ranks.distinct.map(r => ("g", r, mn, mx, r, n))
        .toDF("gk", "rank", "lo", "hi", "t", "cnt")
      val b = if (buckets > 0) buckets else autoBuckets(ranks.distinct.size.toLong)
      runSelection(vp, state0, broadcastState = true, b, tailK,
        stateRows = ranks.distinct.size.toLong)
        .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    } finally vp.unpersist()
  }

  /** `percentile_cont(p)` of `col` computed through the distributed
    * selection — same linear-interpolation semantics as the SQL
    * aggregate (position p·(n−1), interpolate
    * (hi−pos)·v[lo] + (pos−lo)·v[hi]), but with a distributed plan.
    */
  def percentileCont(df: DataFrame, valueCol: String,
      percentages: Seq[Double]): Map[Double, Double] = {
    val g = groupedPercentileCont(
      df.select(lit("").as("gpc_g"), col(valueCol)), "gpc_g", valueCol, percentages)
    percentages.map(p => p -> g(("", p))).toMap
  }

  /** Per-group `percentile_cont` as a DataFrame — unbounded group
    * cardinality: all per-group state stays distributed; the driver
    * sees only scalars. NULL group values form their own group, as in
    * the built-in aggregate; groups whose values are all NULL have no
    * output row.
    *
    * @return (groupCol [original type], percentage double, value double)
    */
  def groupedPercentileContDF(df: DataFrame, groupCol: String,
      valueCol: String, percentages: Seq[Double], buckets: Int = 0,
      tailK: Int = 8192): DataFrame = {
    require(percentages.nonEmpty, "no percentages requested")
    percentages.foreach(p =>
      require(p >= 0.0 && p <= 1.0, s"percentage $p out of [0, 1]"))
    val base = df
      .select(groupKey(col(groupCol)).as("gk"), col(groupCol).as("g"),
        col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .persist()
    try {
      // lazy checkpoint: the count() right below materializes it, so
      // the summary costs one job, not two
      val heads = base.groupBy(col("gk"))
        .agg(first(col("g")).as("g"), count(lit(1)).as("n"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
        .localCheckpoint(false)
      val nGroups = heads.count()
      val broadcastState = nGroups <= GroupBroadcastEnvelope
      val b = if (buckets > 0) buckets
        else autoBuckets(nGroups * 2L * percentages.distinct.size)
      val vp = if (broadcastState) base.select(col("gk"), col("v"))
      else {
        val r = base.select(col("gk"), col("v")).repartition(col("gk")).persist()
        r.count() // materialize the co-partitioned layout once
        r
      }
      try {
        val parr = array(percentages.map(lit): _*)
        val pmap = heads
          .select(col("gk"), col("g"), col("n"), col("mn"), col("mx"),
            explode(parr).as("p"))
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
        val r = runSelection(vp, state0, broadcastState, b, tailK,
          stateRows = nGroups * 2L * percentages.distinct.size)
        val rlo = r.select(col("gk").as("lgk"), col("rank").as("lrank"),
          col("value").as("vlo"))
        val rhi = r.select(col("gk").as("hgk"), col("rank").as("hrank"),
          col("value").as("vhi"))
        pmap
          .join(rlo, col("gk") === col("lgk") && col("rlo") === col("lrank"))
          .join(rhi, col("gk") === col("hgk") && col("rhi") === col("hrank"))
          .select(col("g").as(groupCol), col("p").as("percentage"),
            when(col("rlo") === col("rhi"), col("vlo"))
              .otherwise(
                (col("rhi").cast("double") - col("pos")) * col("vlo") +
                  (col("pos") - col("rlo").cast("double")) * col("vhi"))
              .as("value"))
          .localCheckpoint() // materialize so the persisted inputs can go
      } finally if (!(vp eq base)) vp.unpersist()
    } finally base.unpersist()
  }

  /** Per-group `percentile_cont` collected to a map — the
    * bounded-group-cardinality convenience form of
    * [[groupedPercentileContDF]] (the RESULT is O(groups ×
    * percentages) and lands on the driver; the computation itself is
    * the same fully-distributed engine). Group values are keyed by
    * their string image; a NULL group maps to a null key.
    *
    * @return (group value as string, percentage) -> interpolated value
    */
  def groupedPercentileCont(df: DataFrame, groupCol: String, valueCol: String,
      percentages: Seq[Double], buckets: Int = 0,
      tailK: Int = 8192): Map[(String, Double), Double] = {
    val out = groupedPercentileContDF(
      df.select(col(groupCol).cast("string").as(groupCol), col(valueCol)),
      groupCol, valueCol, percentages, buckets, tailK)
    out.collect()
      .map(r => (if (r.isNullAt(0)) null else r.getString(0),
        r.getDouble(1)) -> r.getDouble(2))
      .toMap
  }
}
