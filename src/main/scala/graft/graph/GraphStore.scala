package graft.graph

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * as parquet, and the committer's `_SUCCESS` marks it complete.
  * Readers serve the newest complete version: no locks, any number of
  * concurrent readers, and old snapshots stay valid mid-query. The
  * claim keeps writers in separate processes off each other's
  * directories, and a per-name lock serializes this instance's own
  * writers.
  *
  * Two choices keep the reference's request path (graphs of N ≤ 30)
  * cheap:
  *   - a snapshot small enough to broadcast
  *     ([[graft.util.Par.broadcastSized]]) is written as ONE part file,
  *     not one per input partition: fewer files to create, commit and
  *     list on every later read;
  *   - the schema of the version a name was last read at is memoized,
  *     so a repeat read plans no footer-inference job. The memo is
  *     keyed by the version AND its directory's modification time: a
  *     drop followed by a new put can reuse `v1` with another schema,
  *     in a new directory. It holds one entry per name.
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

  // (version, directory mtime) -> inferred schema of the version each
  // name was last read at (see the class doc).
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), StructType)]()

  /** Store a graph's edge DataFrame under `name` (create or overwrite —
    * reference ops "add graph" and "modify graph" share this path).
    */
  def put(name: String, edges: DataFrame): Unit = writerLock(name).synchronized {
    val s = snaps(name)
    val v = s.claim()
    val out = if (Par.broadcastSized(edges)) edges.coalesce(1) else edges
    s.publish(v)(v => out.write.mode("overwrite").parquet(s.tablePath(v, "").toString))
    published.put(name, v): Unit
  }

  def add(name: String, edges: DataFrame): Unit = put(name, edges)
  def modify(name: String, edges: DataFrame): Unit = put(name, edges)

  /** Incremental modify: publish a new snapshot = (current ∖ deletions)
    * ∪ additions, keyed by (src, dst). The reference's "modify graph"
    * rewrites the whole matrix (≤30 nodes); at billions of edges the
    * delta form is the only one that scales — one anti-join + union,
    * still an atomic snapshot publish.
    */
  def applyDelta(name: String, additions: DataFrame, deletions: DataFrame): Unit = {
    val current = read(name)
    val keep = current.join(
      deletions.select(deletions("src"), deletions("dst")), Seq("src", "dst"), "left_anti")
    put(name, keep.unionByName(additions, allowMissingColumns = true))
  }

  /** Remove a graph entirely (reference cleanup.c broadcast shutdown —
    * here a plain recursive delete; readers of an already-resolved
    * snapshot are unaffected mid-query on object stores).
    */
  def drop(name: String): Unit = {
    published.remove(name)
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
    val key = try (version, fs(dir).getFileStatus(dir).getModificationTime)
      catch { case _: java.io.FileNotFoundException =>
        throw new java.util.NoSuchElementException(s"no version $version of $name") }
    val schema = Option(schemas.get(name)).filter(_._1 == key).map(_._2).getOrElse {
      val inferred = spark.read.parquet(dir.toString).schema
      schemas.put(name, key -> inferred)
      inferred
    }
    spark.read.schema(schema).parquet(dir.toString)
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
