package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incrementally-maintained distinct-key view of a [[GraphStore]]
  * graph — the "database half" updating a derived index without
  * recomputing it from the base table.
  *
  * Maintains the distinct (src, dst) key set of a stored graph across
  * [[applyDelta]] calls as `new = (old ∖ deleted_keys) ∪ added_keys`.
  * That is correct without multiplicity bookkeeping because GraphStore
  * deltas delete by KEY — [[GraphStore.applyDelta]]'s anti-join
  * removes every base row of a deleted (src, dst) — so a key
  * surviving the anti-join provably still has ≥ 1 base row, and an
  * added key gains one. Refresh cost is O(|view| + |delta|),
  * independent of the base edge count: at 100 TB the win is never
  * rescanning the fact table to keep the pair index current (the
  * rescan bipartitePairs pays per session).
  *
  * View snapshots are immutable parquet directories `v<k>` where k is
  * the GRAPH version the view reflects, so freshness is one version
  * compare and time-travel works for the view exactly as for the
  * graph. Single-writer per view: the view publishes at the graph
  * version it reflects, not at a claimed one.
  */
final class DistinctPairView(spark: SparkSession, store: GraphStore,
    graph: String, viewDir: String) {
  // (companion aggregate view with multiplicity: [[DegreeView]] below)
  // Snapshot layout: parquet at the v<k> root with _SUCCESS as the
  // completion marker — a writer that crashed mid-write leaves a
  // markerless v<k> that is invisible, version() keeps serving the
  // previous snapshot, and the next applyDelta finds its delta applied
  // to a version the view does not reflect and takes the rebuild path.
  private val snaps = new graft.util.VersionedTableStore(spark, viewDir, "_SUCCESS")

  /** Graph version the newest COMPLETE materialized view reflects. */
  def version: Option[Long] = snaps.version

  def isFresh: Boolean = version.nonEmpty && version == store.currentVersion(graph)

  def read(): DataFrame = snaps.readTable("", s"view of $graph never built")

  private def write(df: DataFrame, v: Long): Unit = snaps.publish(v) { v =>
    snaps.writeTable(df.select(df("src"), df("dst")), snaps.tablePath(v, "")): Unit
  }

  /** Full build from the current graph snapshot — initialization and
    * the recovery path when the store was modified behind the view's
    * back (version mismatch).
    */
  def rebuild(): Unit = rebuildAt(store.currentVersion(graph).getOrElse(
    throw new java.util.NoSuchElementException(s"no graph named $graph")))

  private def rebuildAt(v: Long): Unit =
    write(store.readVersion(graph, v).select("src", "dst").distinct(), v)

  /** Publish the delta to the store AND refresh the view from its own
    * previous materialization plus the delta only — the base table is
    * never rescanned. Falls back to a rebuild when the delta was not
    * applied to the version the view reflects (someone wrote the graph
    * without going through this view). Returns the graph version the
    * view now reflects: the one the delta published.
    */
  def applyDelta(additions: DataFrame, deletions: DataFrame): Long = {
    val (base, v) = store.deltaFrom(graph, additions, deletions)
    if (!version.contains(base)) rebuildAt(v)
    else write(read()
      .join(deletions.select(deletions("src"), deletions("dst")).distinct(),
        Seq("src", "dst"), "left_anti")
      .unionByName(additions.select(additions("src"), additions("dst")).distinct())
      .distinct(), v)
    v
  }

  /** Drop all but the newest `keepLast` complete view snapshots (the
    * newest — the one read() serves — is always retained), plus
    * markerless crash leftovers: the [[graft.util.VersionedTableStore]]
    * vacuum rule. A view publishes at the graph version it reflects and
    * takes no claim, so it is single-writer: no snapshot write may be in
    * flight during a vacuum. Readers of retained snapshots are
    * unaffected. Returns the dropped versions.
    */
  def vacuum(keepLast: Int): Seq[Long] = snaps.vacuum(keepLast)
}

/** Incrementally-maintained per-node degree view of a [[GraphStore]]
  * graph — the COUNT-aggregate case [[DistinctPairView]]'s distinct-key
  * trick cannot handle.
  *
  * Degrees count multi-edges, and a GraphStore delta deletes every
  * base row of a (src, dst) key at once, so the view must remember how
  * many rows each key contributed. It therefore materializes two
  * tables per version:
  *
  *   - `kcnt` (src, dst, cnt): row multiplicity per edge key
  *   - `deg`  (node, out_deg, in_deg, deg): the degree view itself
  *
  * Refresh under a delta is the classic incremental-aggregate recipe:
  * per-key count changes are computed from the DELTA plus the affected
  * slice of the previous `kcnt` only, then folded into the previous
  * `deg` as additive corrections. Cost is O(|view| + |delta|) — the
  * base edge table is never rescanned, which at 100 TB replaces a
  * billions-of-rows groupBy shuffle with a view-sized merge.
  *
  * Versioning, freshness, and the stale→rebuild contract match
  * [[DistinctPairView]]: view snapshot `v<k>` reflects graph version k.
  */
final class DegreeView(spark: SparkSession, store: GraphStore,
    graph: String, viewDir: String) {
  import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}

  // `_VIEW_OK` makes the TWO-table publish atomic-enough: kcnt and deg
  // are separate parquet writes, so a crash between them would
  // otherwise leave a v<k> that version() reports as newest but whose
  // read()/applyDelta fail on the missing deg table. The marker is
  // created only after BOTH commits; version() ignores markerless dirs,
  // so a half-published snapshot is invisible and the next applyDelta
  // sees stale → rebuild().
  private val snaps = new graft.util.VersionedTableStore(spark, viewDir, "_VIEW_OK")

  /** Graph version the newest COMPLETE materialized view reflects
    * (both tables committed + marker present), if any.
    */
  def version: Option[Long] = snaps.version

  def isFresh: Boolean = version.nonEmpty && version == store.currentVersion(graph)

  /** The degree view: (node, out_deg, in_deg, deg), multi-edges counted. */
  def read(): DataFrame = readTable("deg")

  private def readTable(which: String): DataFrame =
    snaps.readTable(which, s"view of $graph never built")

  private def write(kcnt: DataFrame, deg: DataFrame, v: Long): Unit =
    snaps.publish(v) { v =>
      snaps.writeTable(kcnt.select(col("src"), col("dst"), col("cnt")),
        snaps.tablePath(v, "kcnt")): Unit
      snaps.writeTable(deg.select(col("node"), col("out_deg"), col("in_deg"), col("deg")),
        snaps.tablePath(v, "deg")): Unit
    }

  private def degreesOf(kcnt: DataFrame): DataFrame = {
    val out = kcnt.groupBy(col("src").as("node")).agg(sum(col("cnt")).as("out_deg"))
    val in = kcnt.groupBy(col("dst").as("node")).agg(sum(col("cnt")).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .withColumn("deg", col("out_deg") + col("in_deg"))
  }

  /** Full build from the current graph snapshot — initialization and
    * the recovery path when the store was modified behind the view's
    * back (version mismatch).
    */
  def rebuild(): Unit = rebuildAt(store.currentVersion(graph).getOrElse(
    throw new java.util.NoSuchElementException(s"no graph named $graph")))

  private def rebuildAt(v: Long): Unit = {
    val kcnt = store.readVersion(graph, v)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
    write(kcnt, degreesOf(kcnt), v)
  }

  /** Publish the delta to the store AND refresh the view from its own
    * previous materialization plus the delta only — the base table is
    * never rescanned. Falls back to a rebuild when the delta was not
    * applied to the version the view reflects. Returns the graph
    * version the view now reflects: the one the delta published.
    */
  def applyDelta(additions: DataFrame, deletions: DataFrame): Long = {
    val (base, v) = store.deltaFrom(graph, additions, deletions)
    if (!version.contains(base)) rebuildAt(v) else refreshIncremental(additions, deletions, v)
    v
  }

  /** The incremental half of [[applyDelta]]: fold a delta the store
    * has ALREADY published, as graph version `v`, into the view's
    * previous materialization. Precondition: the delta was applied to
    * the version the view reflects. Reads only the view's own
    * `kcnt`/`deg` snapshots and the delta — never the base edge table
    * (the spec proves it by deleting the base parquet before calling
    * this).
    */
  private[graft] def refreshIncremental(
      additions: DataFrame, deletions: DataFrame, v: Long): Unit = {
    val delKeys = deletions.select(col("src"), col("dst")).distinct()
    val addCnt = additions.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("acnt"))
    val oldK = readTable("kcnt")

    // New multiplicities, mirroring applyDelta's base semantics exactly:
    // keys in `deletions` lose ALL prior rows, then `additions` stack on
    // whatever survived — new_cnt = (deleted ? 0 : old_cnt) + add_cnt.
    val kept = oldK.join(delKeys, Seq("src", "dst"), "left_anti")
    val newK = kept.join(addCnt, Seq("src", "dst"), "full_outer")
      .select(col("src"), col("dst"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("acnt"), lit(0L))).as("cnt"))
      .filter(col("cnt") > 0)

    // Per-key count change over the AFFECTED keys only (delta-sized):
    // deleted keys contribute -old_cnt, added keys +add_cnt; a key both
    // deleted and re-added in one delta nets to add_cnt - old_cnt.
    val minus = oldK.join(delKeys, Seq("src", "dst"), "left_semi")
      .select(col("src"), col("dst"), (-col("cnt")).as("dcnt"))
    val change = minus
      .unionByName(addCnt.select(col("src"), col("dst"), col("acnt").as("dcnt")))
      .groupBy(col("src"), col("dst")).agg(sum(col("dcnt")).as("dcnt"))
      .filter(col("dcnt") =!= 0)

    // Fold additive corrections into the previous degree view.
    val dOut = change.groupBy(col("src").as("node")).agg(sum(col("dcnt")).as("d_out"))
    val dIn = change.groupBy(col("dst").as("node")).agg(sum(col("dcnt")).as("d_in"))
    val corr = dOut.join(dIn, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("d_out"), lit(0L)).as("d_out"),
        coalesce(col("d_in"), lit(0L)).as("d_in"))
    val newDeg = read().join(corr, Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("out_deg"), lit(0L)) + coalesce(col("d_out"), lit(0L))).as("out_deg"),
        (coalesce(col("in_deg"), lit(0L)) + coalesce(col("d_in"), lit(0L))).as("in_deg"))
      .withColumn("deg", col("out_deg") + col("in_deg"))
      .filter(col("deg") > 0)

    // Compute both BEFORE publishing: newDeg reads the previous `deg`
    // parquet, which an eager overwrite of the same version dir would
    // corrupt mid-plan. New version dir = new files; no such hazard.
    write(newK, newDeg, v)
  }

  /** Drop all but the newest `keepLast` complete view snapshots plus
    * markerless crash leftovers — the [[DistinctPairView.vacuum]]
    * contract. Returns the dropped versions.
    */
  def vacuum(keepLast: Int): Seq[Long] = snaps.vacuum(keepLast)
}
