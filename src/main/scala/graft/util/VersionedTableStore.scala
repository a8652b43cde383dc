package graft.util

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

/** The one snapshot protocol of every persistent artifact in the engine:
  * [[graft.graph.GraphStore]] (one store per graph name), the graph
  * views ([[graft.graph.DistinctPairView]], [[graft.graph.DegreeView]]),
  * the six segment indexes ([[SegmentedIndex]]) and [[MatStore]]'s
  * persistent index tables (one store per key). It re-expresses
  * the reference's consistency contract, one exclusive writer per graph
  * and any number of concurrent readers (primary_server.c:60,150,
  * secondary_server.c:229-303), as immutable versioned directories.
  *
  *   - Layout. A snapshot is an immutable directory `baseDir/v<k>`;
  *     its tables live at `v<k>/<table>`, and the table name `""`
  *     means the snapshot directory itself is the single parquet table
  *     (the GraphStore and DistinctPairView layout, with `_SUCCESS` as
  *     the marker: a Spark write's committer creates it, and [[publish]]
  *     creates it after a write that ran no committer).
  *   - Write. [[writeTable]] is the one table write of every store. A
  *     frame Spark would broadcast ([[Par.broadcastSized]]) is
  *     collected once and written by the driver as ONE part file: no
  *     Spark job for a local relation and no committer; the marker
  *     alone publishes it. A larger frame is a plain Spark write.
  *   - Claim. A writer that allocates its own version takes it with
  *     [[claim]]: an exclusive create of `baseDir/_claim.v<k>`, for the
  *     first free k above the newest complete version. Exclusive create
  *     is atomic on POSIX and on Hadoop file systems, so two writers in
  *     two processes never write the same `v<k>`; a lost race moves on
  *     to the next k. (The graph views publish at the graph version
  *     they reflect instead, and take no claim.)
  *   - Marker. A snapshot counts once `v<k>/<marker>` exists, and
  *     [[publish]] creates the marker only after every table committed.
  *     A writer that crashes mid-publish leaves a markerless `v<k>`
  *     that no read sees.
  *   - Visibility. The newest complete version is the visible one.
  *     [[version]] finds it with one directory listing, checking
  *     markers from the newest version down and stopping at the first
  *     hit, so a read does not grow with retained history. Versions
  *     are claimed in increasing order and a complete version stays
  *     complete until vacuumed, so the visible version only moves
  *     forward: readers never go back to an older snapshot.
  *   - Vacuum. [[vacuum]] keeps the newest `keepLast` complete
  *     versions and drops the older complete ones. It drops a
  *     markerless version when it holds no claim or is older than the
  *     newest complete one, together with its claim file. A claimed,
  *     markerless version newer than the newest complete one may still
  *     be being written, and is kept.
  *
  * Across processes this guarantees: readers never see a partial
  * snapshot, and never see the visible version go backwards; two
  * writers never share a version directory; a vacuum never deletes a
  * version another writer is still writing above the newest complete
  * one. What remains single-writer is the read-modify-write on top of
  * the visible version: two segment-index appends that start from the
  * same version both publish, under distinct versions, but the newer
  * one does not contain the other's segment. Index appends, compactions
  * and vacuums of one directory must therefore come from one writer at
  * a time (GraphStore serializes its own writers per graph in-JVM).
  * Readers of retained snapshots are never disturbed: a new version is
  * new files, never an in-place overwrite.
  */
final class VersionedTableStore(spark: SparkSession, baseDir: String,
    marker: String) {
  private val hadoopConf = spark.sparkContext.hadoopConfiguration
  def dir = new Path(baseDir)
  def fs = dir.getFileSystem(hadoopConf)

  private val VersionDir = "v(\\d+)".r
  private val ClaimFile = "_claim\\.v(\\d+)".r

  /** `v<k>` directories and `_claim.v<k>` files, from one listing. */
  private def listing: (Seq[Long], Set[Long]) = {
    val st = try fs.listStatus(dir)
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    val dirs = st.filter(_.isDirectory).map(_.getPath.getName)
      .collect { case VersionDir(k) => k.toLong }
    val claims = st.filterNot(_.isDirectory).map(_.getPath.getName)
      .collect { case ClaimFile(k) => k.toLong }
    (dirs.toSeq.sorted, claims.toSet)
  }

  /** Every `v<k>` directory, markerless crash leftovers included. */
  def allVersions: Seq[Long] = listing._1

  /** Every version with a directory or a claim file, ascending. */
  def retainedVersions: Seq[Long] = {
    val (dirs, claims) = listing
    (dirs.toSet ++ claims).toSeq.sorted
  }

  def isComplete(v: Long): Boolean = fs.exists(new Path(versionPath(v), marker))

  /** Versions whose marker exists — the ones a reader may serve. */
  def completeVersions: Seq[Long] = allVersions.filter(isComplete)

  /** Newest COMPLETE snapshot version, if any. */
  def version: Option[Long] = allVersions.reverseIterator.find(isComplete)

  def versionPath(v: Long): Path = new Path(dir, s"v$v")

  private def claimPath(v: Long): Path = new Path(dir, s"_claim.v$v")

  def isClaimed(v: Long): Boolean = fs.exists(claimPath(v))

  def tablePath(v: Long, table: String): Path =
    if (table.isEmpty) versionPath(v) else new Path(versionPath(v), table)

  /** Read `table` from the newest complete snapshot; `missing` is the
    * error message when no snapshot was ever published.
    */
  def readTable(table: String, missing: => String): DataFrame = {
    val v = version.getOrElse(
      throw new java.util.NoSuchElementException(missing))
    val p = tablePath(v, table)
    spark.read.schema(footerSchema(p)).parquet(p.toString)
  }

  /** Write `df` as the parquet table at `p` (see Write in the class
    * doc), replacing whatever is at `p` on both paths: a view that
    * publishes again at a version it already wrote, or over a crashed
    * writer's leftover, holds the new rows once. Returns the row count
    * and, for the driver write, the rows it collected, so a caller
    * derives from the table (a bloom, a read memo) without reading it
    * back. The driver's file comes from Spark's own parquet writer
    * factory: the footer schema, codec and other parquet settings are
    * those of a Spark write of `df`.
    */
  def writeTable(df: DataFrame, p: Path): (Long, Option[Array[InternalRow]]) =
    if (Par.broadcastSized(df)) {
      val schema = df.schema
      val format = new ParquetFileFormat()
      DataSourceUtils.verifySchema(format, schema)
      DataSourceUtils.checkFieldNames(format, schema)
      val rows = Par.collectRows(df, s"write ${p.getName}")
      fs.delete(p, true)
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val factory = format.prepareWrite(spark, job, Map.empty, schema)
      val task = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID(new TaskID("", 0, TaskType.MAP, 0), 0))
      val file = new Path(p,
        s"part-00000-${java.util.UUID.randomUUID}-c000${factory.getFileExtension(task)}")
      val out = factory.newInstance(file.toString, schema, task)
      try rows.foreach(out.write) finally out.close()
      (rows.length.toLong, Some(rows))
    } else {
      val n = Observation()
      df.observe(n, count(lit(1)).as("n")).write.mode("overwrite").parquet(p.toString)
      (n.get("n").asInstanceOf[Long], None)
    }

  /** The schema of the parquet table at `p` as Spark's inference gives
    * it, without the inference job: one part file's footer, read on the
    * driver and converted by Spark's own footer conversion under the
    * session's parquet confs, every field nullable. Every part file of
    * a table holds the one frame's schema.
    */
  def footerSchema(p: Path): StructType =
    fs.listStatus(p).map(_.getPath)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .minByOption(_.getName)
      .fold(spark.read.parquet(p.toString).schema) { f =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromPath(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)).toNullable
      }

  /** Take the next version for a new snapshot: exclusive-create
    * `_claim.v<k>` for the first free k above the newest complete
    * version. On `file://` the create is java.nio's atomic createFile;
    * on other schemes Hadoop's create(overwrite = false).
    */
  def claim(): Long = {
    val base = version.getOrElse(0L)
    fs.mkdirs(dir)
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    var v = base + 1L
    var claimed = false
    while (!claimed) {
      val claim = claimPath(v)
      claimed =
        if (scheme == "file") {
          try {
            java.nio.file.Files.createFile(java.nio.file.Paths.get(claim.toUri.getPath))
            true
          } catch { case _: java.nio.file.FileAlreadyExistsException => false }
        } else {
          try { fs.create(claim, false).close(); true }
          catch { case _: java.io.IOException => false }
        }
      if (!claimed) v += 1
    }
    v
  }

  /** Publish snapshot `v`: run `write` (which must commit every table
    * under [[tablePath]](v, _)), then create the marker. If `write`
    * throws, no marker is created and the partial `v<k>` stays
    * invisible. A marker a Spark write's committer already created
    * (the `""`-table `_SUCCESS` layout) is left as it is.
    */
  def publish(v: Long)(write: Long => Unit): Unit = {
    write(v)
    val m = new Path(versionPath(v), marker)
    if (!fs.exists(m)) fs.create(m, false).close()
  }

  /** Apply the vacuum rule (see the class doc) and return the dropped
    * versions, ascending. A dropped version loses its directory and
    * its claim file.
    */
  def vacuum(keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val (dirs, claims) = listing
    val complete = dirs.filter(isComplete)
    val newest = complete.lastOption.getOrElse(0L)
    val keep = complete.takeRight(keepLast).toSet
    val dropped = (dirs.toSet ++ claims).toSeq.sorted
      .filterNot(v => keep(v) || (v > newest && claims(v)))
    dropped.foreach { v =>
      fs.delete(versionPath(v), true)
      fs.delete(claimPath(v), false)
    }
    dropped
  }

  /** Write a small text file (e.g. a segment manifest): content is
    * fully written and the stream closed before the caller publishes a
    * marker over it.
    */
  def writeTextFile(p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def readTextFile(p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }
}
