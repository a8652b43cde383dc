package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, explode, lit, size}

/** The lifecycle every incremental segment index shares
  * ([[graft.dedup.MinHashIndex]], [[graft.dedup.GramIndex]],
  * [[graft.sim.SignLshIndex]], [[graft.sim.PqIndex]],
  * [[graft.text.WinnowIndex]], [[graft.text.BigramLmIndex]]).
  *
  * Layout under `indexDir`:
  *   - `seg/s<k>/`: one immutable delta SEGMENT per build, append or
  *     compaction — the index's parquet tables plus their sidecars;
  *   - `v<k>/{segments, tag, <extra>, _INDEX_OK}`: version k's
  *     manifest (the segments it is the union of), its optional
  *     journal tag, per-index manifest files, and the completion
  *     marker of the [[VersionedTableStore]] protocol.
  *
  * [[publishSegment]] claims version k, writes segment `s<k>` (so two
  * writers never share a segment name either), then publishes the
  * manifest and marker. Segment first, manifest and marker last: a
  * crash in between leaves a claimed, markerless version whose segment
  * no complete version references; [[vacuum]] keeps it while it is the
  * newest claim and sweeps it once a newer version completes.
  * Appends, compactions and vacuums of one directory are single-writer
  * (see [[VersionedTableStore]]).
  *
  * Bloom sidecars ([[BloomSidecars]]) let a probe skip segments. A
  * segment's sidecar over a key column of one of its tables has no
  * false negatives over that table's keys, so a segment whose sidecar
  * claims none of the probe keys holds none of them; a segment with no
  * sidecar is always suspect. [[writeBloomed]] is the one sidecar
  * write: the table's row count n, which sizes the bloom, comes from
  * the write itself. [[probe]] is the one bloom-pruned read: an exact
  * semi-join against only the claiming segments.
  */
abstract class SegmentedIndex(spark: SparkSession, indexDir: String) {
  protected val snaps = new VersionedTableStore(spark, indexDir, "_INDEX_OK")
  protected def segRoot = new Path(snaps.dir, "seg")
  protected def fs = snaps.fs

  /** Newest COMPLETE index version (manifest + marker), if any. */
  def version: Option[Long] = snaps.version

  protected def requireVersion(): Long = version.getOrElse(
    throw new java.util.NoSuchElementException(
      s"index at $indexDir never built — call build() first"))

  /** Manifest file `name` of the newest complete version. */
  protected def manifestFile(name: String): Path =
    new Path(snaps.versionPath(requireVersion()), name)

  /** Segment names version `v` is the union of. */
  protected def segmentsOf(v: Long): Seq[String] =
    snaps.readTextFile(new Path(snaps.versionPath(v), "segments"))
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq

  protected def segPath(seg: String, file: String): Path =
    new Path(segRoot, s"$seg/$file")

  /** One multi-path parquet scan of `table` over `segs`. */
  protected def readSegments(segs: Seq[String], table: String): DataFrame =
    spark.read.parquet(segs.map(segPath(_, table).toString): _*)

  /** `table` as of the newest complete version. */
  protected def readTable(table: String): DataFrame =
    readSegments(segmentsOf(requireVersion()), table)

  /** `table` of version `v`'s own delta segment — an O(batch) read. */
  protected def addedAt(v: Long, table: String): DataFrame = {
    require(snaps.isComplete(v), s"no complete version $v")
    spark.read.parquet(segPath(s"s$v", table).toString)
  }

  /** Read a small text file of the index (manifest, sidecar stats). */
  protected def readText(p: Path): String = snaps.readTextFile(p).trim

  /** The caller-supplied tag version `v` was published with, if any —
    * the streaming drivers' batch journal (one tiny file per version).
    */
  def tagOf(v: Long): Option[String] = {
    val p = new Path(snaps.versionPath(v), "tag")
    if (fs.exists(p)) Some(readText(p)) else None
  }

  /** Newest complete version carrying `tag` — the replay detector.
    * Scans ALL retained versions newest-first (tiny manifest reads,
    * count bounded by [[vacuum]] retention) rather than only the
    * newest, so a maintenance [[compact]] published between a crashed
    * append and its replay cannot hide the batch's journal entry.
    */
  def versionTagged(tag: String): Option[Long] =
    snaps.completeVersions.reverseIterator.find(tagOf(_).contains(tag))

  /** Claim a version k, write its segment `s<k>` with `writeSegment`
    * (given the segment's name), then publish k as `prev :+ s<k>` with
    * `tag` and the `extra` manifest files (name -> content). Returns k.
    */
  protected def publishSegment(prev: Seq[String], tag: Option[String] = None,
      extra: Seq[(String, String)] = Nil)(writeSegment: String => Unit): Long = {
    val v = snaps.claim()
    val seg = s"s$v"
    writeSegment(seg)
    snaps.publish(v) { v =>
      val files = ("segments" -> (prev :+ seg).mkString("\n")) +:
        (tag.map("tag" -> _).toSeq ++ extra)
      files.foreach { case (name, content) =>
        snaps.writeTextFile(new Path(snaps.versionPath(v), name), content)
      }
    }
    v
  }

  /** Write `df` as `table` of segment `seg`, then the bloom sidecar
    * `sidecar` over the written `key` column. The row count is observed
    * on the write's own job, and the bloom is built from the written
    * files read back with the schema just written, so `df`'s plan runs
    * once and no count or schema-inference job runs. Returns the
    * written table and its row count.
    */
  protected def writeBloomed(seg: String, table: String, df: DataFrame,
      key: String, sidecar: String): (DataFrame, Long) = {
    val p = segPath(seg, table).toString
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("n")).write.mode("overwrite").parquet(p)
    val n = rows.get("n").asInstanceOf[Long]
    val written = spark.read.schema(df.schema).parquet(p)
    BloomSidecars.write(fs, segPath(seg, sidecar), BloomSidecars.build(written, key, n))
    (written, n)
  }

  /** `key` as a column of the indices into `segs` whose sidecar
    * `sidecar` may hold it.
    */
  private def claims(segs: Seq[String], sidecar: String, key: Column): Column =
    BloomSidecars.hits(spark.sparkContext.broadcast(
      segs.map(s => BloomSidecars.read(fs, segPath(s, sidecar))).toArray))(key)

  /** The segments named in the `segi` column of `claimed`: one job. */
  private def claimedSegments(segs: Seq[String], claimed: DataFrame): Seq[String] =
    claimed.select(explode(col("segi")).as("i")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq.map(segs)

  /** The segments of `segs` whose sidecar `sidecar` may hold some value
    * of `key` over `keys`: one job, nothing materialized.
    */
  protected def claimingSegments(segs: Seq[String], sidecar: String,
      keys: DataFrame, key: Column): Seq[String] =
    claimedSegments(segs, keys.select(claims(segs, sidecar, key).as("segi")))

  /** The bloom-pruned probe: the rows of `table` over `segs` whose `key`
    * is one of `keys`' `key` values, read from only the segments whose
    * sidecar `sidecar` claims one of them. The claimed keys are
    * checkpointed once, then confirmed by an exact semi-join. None when
    * no segment claims any key.
    */
  protected def probe(segs: Seq[String], table: String, sidecar: String,
      keys: DataFrame, key: String): Option[DataFrame] =
    if (segs.isEmpty) None
    else {
      val suspects = keys.select(col(key)).distinct()
        .withColumn("segi", claims(segs, sidecar, col(key)))
        .filter(size(col("segi")) > 0)
        .localCheckpoint()
      val hit = claimedSegments(segs, suspects)
      if (hit.isEmpty) None
      else Some(readSegments(hit, table)
        .join(suspects.select(col(key)), Seq(key), "left_semi"))
    }

  /** The `key` values of `keys` already in `table` as of the newest
    * complete version, by [[probe]].
    */
  protected def known(keys: DataFrame, key: String, table: String,
      sidecar: String): DataFrame =
    probe(segmentsOf(requireVersion()), table, sidecar, keys, key)
      .fold(keys.select(col(key)).limit(0))(_.select(col(key)))

  /** Merge the current version's segments into one and publish it as a
    * new version; returns that version.
    */
  def compact(): Long

  /** Apply the [[VersionedTableStore]] vacuum rule to the versions,
    * then delete every segment that neither a retained complete version
    * references nor a retained in-flight version is writing (including
    * orphans from a crash between segment write and publish). Returns
    * the dropped versions.
    */
  def vacuum(keepLast: Int): Seq[Long] = {
    val dropped = snaps.vacuum(keepLast)
    val (complete, inFlight) = snaps.retainedVersions.partition(snaps.isComplete)
    val live = complete.flatMap(segmentsOf).toSet ++ inFlight.map(v => s"s$v")
    if (fs.exists(segRoot)) {
      fs.listStatus(segRoot).map(_.getPath)
        .filterNot(p => live.contains(p.getName))
        .foreach(p => fs.delete(p, true))
    }
    dropped
  }

  /** The streaming drivers' maintenance cadence, run after a trigger:
    * compact after every `compactEvery`-th batch (0 = never), vacuum to
    * `vacuumKeep` versions after every batch (0 = never).
    */
  def maintain(batchId: Long, compactEvery: Int, vacuumKeep: Int): Unit = {
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compact(): Unit
    if (vacuumKeep > 0) vacuum(vacuumKeep): Unit
  }
}
