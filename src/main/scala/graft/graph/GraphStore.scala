package graft.graph

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
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
  * Two choices keep the reference's request path (graphs of N ≤ 30)
  * cheap:
  *   - a snapshot small enough to broadcast
  *     ([[graft.util.Par.broadcastSized]]) is written by the driver as
  *     ONE part file, through Spark's own parquet writer: no Spark job
  *     for a local relation, no committer and no `_temporary` rename,
  *     one file to list on every later read. A larger snapshot is a
  *     plain Spark write;
  *   - the schema of the newest version a name was put or read at is
  *     memoized, so neither a read of this instance's own small put
  *     (also one racing the put's last step) nor a repeat read plans
  *     a footer-inference job. The memo is keyed by the version AND
  *     its directory's modification time: a drop followed by a new put
  *     can reuse `v1` with another schema, in a new directory. It
  *     holds one entry per name, so a time-travel read of an older
  *     version infers its schema.
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

  // (version, directory mtime) -> schema of the newest version each
  // name was read (inferred) or put (written) at (see the class doc). A
  // read with a given schema makes every field nullable, as inference
  // does, so both kinds read back alike.
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), StructType)]()

  // Version and schema of this instance's driver write in flight per
  // name: a read that lists the version after its marker appears but
  // before `schemas` is seeded takes the schema from here. An entry
  // lives from before the marker until after the seed.
  private val writing =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, StructType)]()

  // Keep the entry of the newer directory: a slow inference of an older
  // version must not evict the schema of a newer one. A drop and a new
  // put make a newer directory, so they replace the entry.
  private def remember(name: String, key: (Long, Long), schema: StructType): Unit =
    schemas.merge(name, key -> schema, (old, in) => if (in._1._2 >= old._1._2) in else old): Unit

  /** Store a graph's edge DataFrame under `name` (create or overwrite —
    * reference ops "add graph" and "modify graph" share this path).
    */
  def put(name: String, edges: DataFrame): Unit = writerLock(name).synchronized {
    val s = snaps(name)
    val v = s.claim()
    val dir = s.versionPath(v)
    if (Par.broadcastSized(edges)) {
      writing.put(name, v -> edges.schema)
      try {
        s.publish(v)(_ => writeOnDriver(edges, dir))
        remember(name, (v, fs(dir).getFileStatus(dir).getModificationTime), edges.schema)
      } finally writing.remove(name)
    } else s.publish(v)(_ => edges.write.mode("overwrite").parquet(dir.toString))
    published.put(name, v): Unit
  }

  /** Write `edges` as one parquet file in `dir` from the driver. The
    * rows come from one `executeCollect` of the frame's own plan (no
    * job for a local relation) and the file from Spark's own parquet
    * writer factory, so the footer schema, codec and every other
    * parquet session setting are those of a Spark write of the frame.
    * No committer runs: the caller's marker alone makes the version
    * visible.
    */
  private def writeOnDriver(edges: DataFrame, dir: Path): Unit = {
    val schema = edges.schema
    val format = new ParquetFileFormat()
    DataSourceUtils.verifySchema(format, schema)
    DataSourceUtils.checkFieldNames(format, schema)
    val qe = edges.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("GraphStore.put"))(
      qe.executedPlan.executeCollect())
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = format.prepareWrite(spark, job, Map.empty, schema)
    val task = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID("", 0, TaskType.MAP, 0), 0))
    val file = new Path(dir,
      s"part-00000-${java.util.UUID.randomUUID}-c000${factory.getFileExtension(task)}")
    val out = factory.newInstance(file.toString, schema, task)
    try rows.foreach(out.write) finally out.close()
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
    // `writing` first: its entry is removed only after `schemas` is seeded
    val schema = Option(writing.get(name)).collect { case (`version`, s) => s }
      .orElse(Option(schemas.get(name)).collect { case (`key`, s) => s }).getOrElse {
        val inferred = spark.read.parquet(dir.toString).schema
        remember(name, key, inferred)
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
