package graft.graph

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftshim.LocalRelationBridge
import org.apache.spark.sql.types.StructType

import graft.util.{Par, VersionedTableStore}

/** Persistent graph store with the reference's add/modify semantics
  * (client.c ops 1-2) re-expressed for a distributed file system.
  *
  * The reference serializes writers with a named semaphore per graph
  * file and counts readers in shared memory (primary_server.c:60,150,
  * secondary_server.c:229-303). Here each graph name is one
  * [[graft.util.VersionedTableStore]] at `<baseDir>/<name>`: every
  * add/modify claims a fresh `v<k>` directory, writes the edges there
  * as parquet, and the store's `_SUCCESS` marker, created after the
  * write, marks it complete.
  * Readers serve the newest complete version: no locks, any number of
  * concurrent readers, and old snapshots stay valid mid-query. The
  * claim keeps writers in separate processes off each other's
  * directories, and a per-name lock serializes this instance's own
  * writers.
  *
  * Two choices keep the store's part of the reference's request path
  * (graphs of N ≤ 30) free of Spark jobs:
  *   - every snapshot goes through the store's one table write,
  *     [[graft.util.VersionedTableStore.writeTable]]: a snapshot small
  *     enough to broadcast is written by the driver as ONE part file,
  *     with no Spark job for a local relation and no committer, one
  *     file to list on every later read. A larger snapshot is a plain
  *     Spark write;
  *   - the newest version a name was put or read at is memoized: its
  *     schema, and for a broadcast-sized version its rows as catalyst
  *     `InternalRow`s. A read of a memoized version with rows returns
  *     a local-relation frame over them, which runs no job to scan or
  *     collect; a larger version reads as a plain parquet frame. A put
  *     seeds the memo with the rows it wrote (a read racing the put's
  *     last step takes them too); the first read of a version this
  *     instance did not write takes its schema from one footer, read
  *     on the driver, and collects a broadcast-sized version's rows in
  *     one job. The memo is keyed by the version AND its directory's
  *     modification time: a drop followed by a new put can reuse `v1`
  *     with other rows, in a new directory. Its bound: one entry per
  *     name put or read since that name's last drop, and rows only
  *     for a broadcast-sized version, so at most about
  *     `spark.sql.autoBroadcastJoinThreshold` bytes per name. A
  *     time-travel read of an older version does not displace the
  *     newest one's entry; it reads its footer and, if it is small,
  *     collects its rows again.
  */
final class GraphStore(spark: SparkSession, baseDir: String) {
  private val hadoopConf = spark.sparkContext.hadoopConfiguration

  private def fs(p: Path) = p.getFileSystem(hadoopConf)

  private def graphDir(name: String) = new Path(baseDir, name)

  private def snaps(name: String) =
    new VersionedTableStore(spark, graphDir(name).toString, "_SUCCESS")

  // One writer per graph name at a time within this instance (the
  // reference's per-graph writer semaphore): put and vacuum of one
  // name never interleave.
  private val writerLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def writerLock(name: String): Object =
    writerLocks.computeIfAbsent(name, _ => new Object)

  // Read-your-writes: the version this instance last published per
  // name. It counts while its claim file exists (a drop, from any
  // instance, deletes the claim with the graph), so a listing that
  // lags the write, or snapshot files deleted behind the store's back,
  // never make the current version fall behind this instance's own
  // writes.
  private val published =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  // (version, directory mtime) -> snapshot of the newest version each
  // name was read or put at (see the class doc).
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), GraphStore.Snapshot)]()

  // Version and snapshot of this instance's driver write in flight per
  // name: a read that lists the version after its marker appears but
  // before `memo` is seeded takes the snapshot from here. An entry
  // lives from before the marker until after the seed.
  private val writing =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, GraphStore.Snapshot)]()

  // Keep the entry of the newer directory: a slow first read of an
  // older version must not evict the snapshot of a newer one. A drop
  // and a new put make a newer directory, so they replace the entry.
  private def remember(name: String, key: (Long, Long), snap: GraphStore.Snapshot): Unit =
    memo.merge(name, key -> snap, (old, in) => if (in._1._2 >= old._1._2) in else old): Unit

  private def versionKey(dir: Path): Long = fs(dir).getFileStatus(dir).getModificationTime

  /** Store a graph's edge DataFrame under `name` (create or overwrite —
    * reference ops "add graph" and "modify graph" share this path).
    * Returns the version it published.
    */
  def put(name: String, edges: DataFrame): Long = writerLock(name).synchronized {
    val s = snaps(name)
    val v = s.claim()
    val dir = s.versionPath(v)
    try {
      s.publish(v)(_ => s.writeTable(edges, dir)._2.foreach(rows =>
        writing.put(name, v -> GraphStore.Snapshot(edges.schema.toNullable, Some(rows.toSeq)))))
      Option(writing.get(name)).foreach(w => remember(name, (v, versionKey(dir)), w._2))
    } finally writing.remove(name)
    published.put(name, v)
    v
  }

  def add(name: String, edges: DataFrame): Long = put(name, edges)
  def modify(name: String, edges: DataFrame): Long = put(name, edges)

  /** Incremental modify: publish a new snapshot = (current ∖ deletions)
    * ∪ additions, keyed by (src, dst). The reference's "modify graph"
    * rewrites the whole matrix (≤30 nodes); at billions of edges the
    * delta form is the only one that scales — one anti-join + union,
    * still an atomic snapshot publish. Returns the version it published.
    */
  def applyDelta(name: String, additions: DataFrame, deletions: DataFrame): Long =
    deltaFrom(name, additions, deletions)._2

  /** [[applyDelta]], returning (the version the delta was applied to,
    * the version it published). The read and the put run under the
    * name's writer lock, so two deltas on one name never both apply to
    * the same version.
    */
  private[graph] def deltaFrom(name: String, additions: DataFrame,
      deletions: DataFrame): (Long, Long) = writerLock(name).synchronized {
    val base = currentVersion(name).getOrElse(
      throw new java.util.NoSuchElementException(s"no graph named $name"))
    val keep = readVersion(name, base).join(
      deletions.select(deletions("src"), deletions("dst")), Seq("src", "dst"), "left_anti")
    (base, put(name, keep.unionByName(additions, allowMissingColumns = true)))
  }

  /** Remove a graph entirely (reference cleanup.c broadcast shutdown —
    * here a plain recursive delete; readers of an already-resolved
    * snapshot are unaffected mid-query on object stores).
    */
  def drop(name: String): Unit = {
    published.remove(name)
    memo.remove(name)
    val dir = graphDir(name)
    val f = fs(dir)
    if (f.exists(dir)) f.delete(dir, true)
  }

  /** Read the current snapshot of `name`. */
  def read(name: String): DataFrame = {
    val v = currentVersion(name).getOrElse(
      throw new java.util.NoSuchElementException(s"no graph named $name"))
    readVersion(name, v)
  }

  /** Time-travel read: any still-retained snapshot version. Versions
    * are immutable once published, so a historical read is just a scan
    * of that version's directory — the audit/"what did the graph look
    * like before the modify" query the reference cannot answer at all
    * (its modify overwrites the matrix file in place).
    */
  def readVersion(name: String, version: Long): DataFrame = {
    val dir = new Path(graphDir(name), s"v$version")
    val key = try (version, versionKey(dir))
      catch { case _: java.io.FileNotFoundException =>
        throw new java.util.NoSuchElementException(s"no version $version of $name") }
    // `writing` first: its entry is removed only after `memo` is seeded
    val snap = Option(writing.get(name)).collect { case (`version`, s) => s }
      .orElse(Option(memo.get(name)).collect { case (`key`, s) => s }).getOrElse {
        val loaded = load(name, dir)
        remember(name, key, loaded)
        loaded
      }
    snap.rows.fold(spark.read.schema(snap.schema).parquet(dir.toString))(
      LocalRelationBridge.frame(spark, snap.schema, _))
  }

  /** The snapshot in `dir`: its schema from one footer, read on the
    * driver ([[graft.util.VersionedTableStore.footerSchema]]), and a
    * broadcast-sized version's rows from one collect.
    */
  private def load(name: String, dir: Path): GraphStore.Snapshot = {
    val scan = spark.read.schema(snaps(name).footerSchema(dir)).parquet(dir.toString)
    GraphStore.Snapshot(scan.schema,
      Option.when(Par.broadcastSized(scan))(Par.collectRows(scan, "GraphStore.read").toSeq))
  }

  /** Drop old snapshot versions of `name` by the store's vacuum rule:
    * keep the newest `keepLast` complete versions, never a version
    * another process is still writing above them. Returns the dropped
    * versions.
    *
    * Runs under the graph's writer lock, so this instance's own put()
    * is never in flight. Readers of retained snapshots are unaffected
    * (snapshots are immutable and the vacuum never touches them);
    * readers still scanning an already-vacuumed version keep their
    * open file handles on POSIX but fail on re-scan — retention policy
    * must exceed the longest query, same contract as any snapshot
    * store.
    */
  def vacuum(name: String, keepLast: Int): Seq[Long] = writerLock(name).synchronized {
    snaps(name).vacuum(keepLast)
  }

  /** All retained snapshot versions of `name`, ascending. */
  def versions(name: String): Seq[Long] = snaps(name).allVersions

  /** The newest complete version of `name`, or this instance's own
    * newer write (see `published`).
    */
  def currentVersion(name: String): Option[Long] = {
    val s = snaps(name)
    val mine = Option(published.get(name)).map(_.longValue).filter(s.isClaimed)
    (s.version ++ mine).maxOption
  }

  def list(): Seq[String] = {
    val base = new Path(baseDir)
    val f = fs(base)
    if (!f.exists(base)) Seq.empty
    else f.listStatus(base).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }
}

object GraphStore {

  /** One version as the store serves it: the schema it reads with
    * (every field nullable), and its rows when it is broadcast-sized.
    */
  private final case class Snapshot(schema: StructType, rows: Option[Seq[InternalRow]])
}
