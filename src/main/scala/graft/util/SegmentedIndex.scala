package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, explode, lit, size, sum}
import org.apache.spark.sql.graftshim.LocalRelationBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

/** The lifecycle every incremental segment index shares
  * ([[graft.dedup.MinHashIndex]], [[graft.dedup.GramIndex]],
  * [[graft.sim.SignLshIndex]], [[graft.sim.PqIndex]],
  * [[graft.text.WinnowIndex]], [[graft.text.BigramLmIndex]]).
  *
  * Layout under `indexDir`:
  *   - `seg/s<k>/`: one immutable delta SEGMENT per build, append or
  *     compaction — the index's parquet tables plus their sidecars;
  *   - `v<k>/{segments, stats, tag, <extra>, _INDEX_OK}`: version
  *     k's manifest (the segments it is the union of), their
  *     [[stats]], its optional journal tag, per-index manifest files,
  *     and the completion marker of the [[VersionedTableStore]]
  *     protocol.
  *
  * [[publishSegment]] claims version k, writes segment `s<k>` (so two
  * writers never share a segment name either), then publishes the
  * manifest and marker. Segment first, manifest and marker last: a
  * crash in between leaves a claimed, markerless version whose segment
  * no complete version references; [[vacuum]] keeps it while it is the
  * newest claim and sweeps it once a newer version completes.
  * Appends, compactions and vacuums of one directory are single-writer
  * (see [[VersionedTableStore]]). Every segment table goes through the
  * store's one table write ([[writeTable]]): a broadcast-sized table is
  * written by the driver from one collect, with no committer. Reads
  * take a table's schema from a per-instance memo keyed by the first
  * segment read (immutable, so an entry never goes stale), seeded by
  * this instance's writes or else by one footer read on the driver, so
  * no read runs a schema-inference job. A build or [[compact]] writes
  * a version's first segment; an append adds a later one. State an
  * index keeps once per version (PqIndex's trained model) is a table of
  * the first segment, which appends carry forward.
  *
  * Identity. Every index has one identity table: the table holding its
  * key column `idKey`, with the bloom sidecar `idSidecar` over that
  * column. Keys are first-writer-wins: [[fresh]] collapses a batch's
  * duplicate keys (an arbitrary copy wins) and drops the keys already
  * stored ([[known]]), and an append writes only fresh rows, so
  * segments hold disjoint keys, a multi-segment read needs no
  * distinct, and a replayed batch appends the empty delta.
  * [[idsAddedAt]] reads the keys one version added; [[writeIdentity]]
  * is the identity table's write. Additive tables (a count per key,
  * summed over segments) are read by [[summed]].
  *
  * Bloom sidecars ([[BloomSidecars]]) let a probe skip segments. A
  * segment's sidecar over a key column of one of its tables has no
  * false negatives over that table's keys, so a segment whose sidecar
  * claims none of the probe keys holds none of them; a segment with no
  * sidecar is always suspect. [[writeBloomed]] is the one bloomed
  * table write: the bloom is sized for the table's row count n and
  * built from the rows the driver wrote, or, for a larger table, by
  * Spark's bloom aggregate over the written table. [[probe]] is the
  * one bloom-pruned read: an exact semi-join against only the claiming
  * segments.
  */
abstract class SegmentedIndex(spark: SparkSession, indexDir: String,
    val idKey: String, idTable: String, idSidecar: String) {
  protected val snaps = new VersionedTableStore(spark, indexDir, "_INDEX_OK")
  protected def segRoot = new Path(snaps.dir, "seg")
  protected def fs = snaps.fs

  // (segment, table) -> read schema (see the class doc)
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, String), StructType]()

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

  /** One multi-path parquet scan of `table` over `segs`, with the
    * memoized schema of its first segment: no inference job.
    */
  protected def readSegments(segs: Seq[String], table: String): DataFrame =
    spark.read.schema(schemas.computeIfAbsent((segs.head, table),
      _ => snaps.footerSchema(segPath(segs.head, table))))
      .parquet(segs.map(segPath(_, table).toString): _*)

  /** `table` as of the newest complete version. */
  protected def readTable(table: String): DataFrame =
    readSegments(segmentsOf(requireVersion()), table)

  /** `table` of version `v`'s own delta segment — an O(batch) read. */
  protected def addedAt(v: Long, table: String): DataFrame = {
    require(snaps.isComplete(v), s"no complete version $v")
    readSegments(Seq(s"s$v"), table)
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

  /** A segment [[publishSegment]] is writing: its name, and the
    * numbers its table and sidecar writes record for its [[stats]].
    */
  protected final class Segment private[SegmentedIndex] (val name: String) {
    private[SegmentedIndex] val rows = collection.mutable.LinkedHashMap.empty[String, Long]
    private[SegmentedIndex] val fpp = collection.mutable.LinkedHashMap.empty[String, Double]
  }

  /** Claim a version k, write its segment `s<k>` with `writeSegment`,
    * then publish k as `prev :+ s<k>` with `tag` and the `extra`
    * manifest files (name -> content). The `stats` manifest carries
    * `prev`'s entries from the newest complete version and adds the new
    * segment's: what its writes recorded, and the bytes of its files.
    * Returns k.
    */
  protected def publishSegment(prev: Seq[String], tag: Option[String] = None,
      extra: Seq[(String, String)] = Nil)(writeSegment: Segment => Unit): Long = {
    val v = snaps.claim()
    val seg = new Segment(s"s$v")
    writeSegment(seg)
    val added = SegmentedIndex.SegmentStats(seg.name, seg.rows.toMap,
      fs.getContentSummary(new Path(segRoot, seg.name)).getLength, seg.fpp.toMap)
    val carried = snaps.version.fold(Map.empty[String, SegmentedIndex.SegmentStats])(statsOf)
    snaps.publish(v) { v =>
      val files = ("segments" -> (prev :+ seg.name).mkString("\n")) +:
        ("stats" -> (prev.flatMap(carried.get) :+ added).map(_.line).mkString("\n")) +:
        (tag.map("tag" -> _).toSeq ++ extra)
      files.foreach { case (name, content) =>
        snaps.writeTextFile(new Path(snaps.versionPath(v), name), content)
      }
    }
    v
  }

  /** Write `df` as `table` of segment `seg` with the store's one table
    * write ([[VersionedTableStore.writeTable]]), seed the table's read
    * schema and record its row count in the segment's stats. Returns
    * the row count and, for a driver write, the rows.
    */
  protected def writeTable(seg: Segment, table: String,
      df: DataFrame): (Long, Option[Array[InternalRow]]) = {
    val written = snaps.writeTable(df, segPath(seg.name, table))
    schemas.put((seg.name, table), df.schema.toNullable)
    seg.rows(table) = written._1
    written
  }

  /** Write `bf` as sidecar `sidecar` of segment `seg` and record its
    * expected false-positive rate in the segment's stats.
    */
  protected def writeSidecar(seg: Segment, sidecar: String, bf: BloomFilter): Unit = {
    BloomSidecars.write(fs, segPath(seg.name, sidecar), bf)
    seg.fpp(sidecar) = bf.expectedFpp()
  }

  /** Write `df` as `table` of segment `seg` ([[writeTable]]), then the
    * bloom sidecar `sidecar` over its `key` column, sized for its row
    * count n. The table is the written one: a local relation over the
    * rows the driver wrote, whose bloom is hashed with no job, else the
    * parquet table. `df`'s plan runs once. Returns the table and n.
    */
  protected def writeBloomed(seg: Segment, table: String, df: DataFrame,
      key: String, sidecar: String): (DataFrame, Long) = {
    val (n, rows) = writeTable(seg, table, df)
    val written = rows.fold(readSegments(Seq(seg.name), table))(
      r => LocalRelationBridge.frame(spark, df.schema, r.toSeq))
    writeSidecar(seg, sidecar, BloomSidecars.build(written, key, n))
    (written, n)
  }

  /** Version `v`'s `stats` manifest by segment. */
  private def statsOf(v: Long): Map[String, SegmentedIndex.SegmentStats] = {
    val p = new Path(snaps.versionPath(v), "stats")
    if (!fs.exists(p)) Map.empty
    else readText(p).split("\n").map(SegmentedIndex.SegmentStats.parse)
      .map(st => st.segment -> st).toMap
  }

  /** What the newest complete version holds, per segment: each table's
    * rows, the bytes of the segment's files and each sidecar's expected
    * false-positive rate. Read from the version's manifest files alone:
    * no Spark action. A segment written before stats were recorded
    * reports no numbers.
    */
  def stats(): SegmentedIndex.Stats = {
    val v = requireVersion()
    val known = statsOf(v)
    SegmentedIndex.Stats(v, segmentsOf(v).map(seg =>
      known.getOrElse(seg, SegmentedIndex.SegmentStats(seg, Map.empty, 0L, Map.empty))))
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

  /** The `idKey` values of `keys` (an `idKey` column) already in the
    * identity table as of the newest complete version, by [[probe]].
    */
  def known(keys: DataFrame): DataFrame =
    probe(segmentsOf(requireVersion()), idTable, idSidecar, keys, idKey)
      .fold(keys.select(col(idKey)).limit(0))(_.select(col(idKey)))

  /** The first-writer-wins rule: `batch` with its duplicate keys
    * collapsed (an arbitrary copy wins), then the [[known]] ones
    * dropped. What an append writes.
    */
  def fresh(batch: DataFrame): DataFrame = {
    val b = batch.dropDuplicates(idKey)
    b.join(known(b.select(col(idKey))), Seq(idKey), "left_anti")
  }

  /** The keys version `v` first stored: its own segment's identity
    * table, an O(batch) read.
    */
  def idsAddedAt(v: Long): DataFrame = addedAt(v, idTable).select(col(idKey))

  /** Write `df` as the identity table of segment `seg`, with its
    * sidecar ([[writeBloomed]]).
    */
  protected def writeIdentity(seg: Segment, df: DataFrame): (DataFrame, Long) =
    writeBloomed(seg, idTable, df, idKey, idSidecar)

  /** Additive `table` read: `value` summed per `key` over `segs`, or,
    * given probe `keys`, over only the segments whose sidecar
    * `<table>_bloom` claims one of them ([[probe]]). The probed sums
    * are complete: no other segment holds a probed key.
    */
  protected def summed(segs: Seq[String], table: String, key: String, value: String,
      keys: Option[DataFrame] = None): DataFrame = {
    def sumOf(rows: DataFrame) = rows.groupBy(col(key)).agg(sum(col(value)).as(value))
    keys.fold(sumOf(readSegments(segs, table)))(k =>
      probe(segs, table, s"${table}_bloom", k, key)
        .fold(k.select(col(key), lit(0L).as(value)).limit(0))(sumOf))
  }

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

object SegmentedIndex {

  /** One segment's [[SegmentedIndex.stats]]: rows per table, bytes of
    * its files, expected false-positive rate per sidecar.
    */
  final case class SegmentStats(segment: String, rows: Map[String, Long], bytes: Long,
      fpp: Map[String, Double]) {

    /** The segment's `stats` manifest line, read back by [[SegmentStats.parse]]:
      * `<segment> <table>.rows=N … <sidecar>.fpp=X … bytes=B`.
      */
    def line: String = (segment +: (rows.map { case (t, n) => s"$t.rows=$n" } ++
      fpp.map { case (sc, p) => s"$sc.fpp=$p" }).toSeq :+ s"bytes=$bytes").mkString(" ")
  }

  object SegmentStats {
    def parse(line: String): SegmentStats = {
      val fields = line.trim.split(" ")
      val kv = fields.toSeq.tail.map(_.split("=", 2)).collect { case Array(k, x) => k -> x }
      def by[T](suffix: String, f: String => T) = kv.collect {
        case (k, x) if k.endsWith(suffix) => k.stripSuffix(suffix) -> f(x) }.toMap
      SegmentStats(fields.head, by(".rows", _.toLong),
        kv.collectFirst { case ("bytes", b) => b.toLong }.getOrElse(0L), by(".fpp", _.toDouble))
    }
  }

  /** An index version's segments and their numbers. */
  final case class Stats(version: Long, segments: Seq[SegmentStats]) {
    def rows(table: String): Long = segments.flatMap(_.rows.get(table)).sum
    def bytes: Long = segments.map(_.bytes).sum
  }
}
