package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** Materialized parquet tables (derived "index" stores — MinHash
  * signatures, trade-graph edge lists).
  *
  * Default mode is PER-SESSION: parquet temp dirs, NOT cache()/
  * localCheckpoint(), because the harness unpersists all blocks
  * between queries. Sessions are keyed by a stable UUID held in a
  * WeakHashMap — identityHashCode can be reused after a session is
  * GC'd, which could have served a stale table to a different session
  * — and every dir is deleted by a JVM shutdown hook, so repeated
  * sessions in one process can't leak disk unboundedly.
  *
  * PERSISTENT mode (opt-in via `SPARK_GRAFT_INDEX_DIR` env or the
  * `graft.index.dir` system property): index tables built through
  * [[table]] whose key follows the `"<name>:<srcDir>"` convention are
  * published in a [[VersionedTableStore]], one store per key at
  * `<root>/<name>_<md5(key)>`, and survive the JVM — a fresh session's
  * first touch reads the published index instead of repaying the build
  * (the entire bench cold-vs-warm gap for MatStore-backed operators).
  * A version holds one table, named after the content fingerprint of
  * the source it was built from, and a lookup serves the newest
  * complete version whose table is the source's current fingerprint.
  * Staleness is content-addressed: the fingerprint hashes every source
  * file's (relative path, size, mtime), so ANY change to the source
  * corpus misses and triggers a rebuild into a newly claimed version;
  * parquet rewrites also rename part files, so even same-size rewrites
  * change the fingerprint. Racing JVMs each build into their own
  * claimed version. Each publish vacuums the store to its newest two
  * complete versions, which also drops a markerless version below the
  * newest complete one: a racer whose version a newer publish dropped
  * mid-build loses the race and serves the winner's table instead. A
  * reader of a superseded index is protected for one more rebuild —
  * retention contract: a query must finish before its index is rebuilt
  * twice. A build whose source changed under it is never published:
  * its frame reads the claimed version, which the key's next resolve
  * rebuilds past and vacuums, so that frame is valid only until then.
  *
  * At 100 TB the same structure holds with one substitution: the
  * fingerprint comes from the table format's snapshot id (e.g. a
  * GraphStore snapshot version) instead of a file walk.
  */
object MatStore {
  private def persistRoot: Option[String] =
    sys.props.get("graft.index.dir")
      .orElse(sys.env.get("SPARK_GRAFT_INDEX_DIR")).filter(_.nonEmpty)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Content fingerprint of a local source dir: md5 over the sorted
    * (relative path, size, mtime) of every file under it — plus, for
    * NON-parquet files, an md5 of the first 4 KiB of content. Parquet
    * rewrites rename their part files (UUID'd names), so path+size+
    * mtime always moves; a fixed-name CSV/JSONL rewritten same-size
    * within a coarse (second-granularity) mtime window would not — the
    * first-block sample catches that case. mtime is taken at the full
    * precision the filesystem offers, not truncated to milliseconds.
    */
  private[graft] def fingerprint(srcDir: java.io.File): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Seq.empty)
      else Seq(f)
    val lines = walk(srcDir).map { f =>
      val mtime = java.nio.file.Files.getLastModifiedTime(f.toPath).toInstant.toString
      val sample =
        if (f.getName.endsWith(".parquet")) ""
        else {
          val in = new java.io.FileInputStream(f)
          try {
            val buf = new Array[Byte](4096)
            val n = math.max(0, in.read(buf))
            md5hex(new String(java.util.Base64.getEncoder.encode(
              java.util.Arrays.copyOf(buf, n)), "US-ASCII"))
          } finally in.close()
        }
      s"${srcDir.toPath.relativize(f.toPath)}|${f.length}|$mtime|$sample"
    }.sorted
    md5hex(lines.mkString("\n"))
  }
  private val sessionIds = new java.util.WeakHashMap[SparkSession, String]()
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def sessionId(s: SparkSession): String = sessionIds.synchronized {
    Option(sessionIds.get(s)).getOrElse {
      val id = java.util.UUID.randomUUID().toString
      sessionIds.put(s, id)
      id
    }
  }

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    tempDirs.forEach(d => deleteRecursively(new java.io.File(d)))
  }))

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** A fresh temp dir, deleted by the shutdown hook. */
  private def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    tempDirs.add(p)
    p
  }

  /** `init`'s result for `key`, computed at most once.
    *
    * `init` runs under a per-key lock, NOT inside a ConcurrentHashMap
    * mapping function: builds here are nested (clustersTable →
    * candidatesTable → minhashTable all re-enter [[table]]), and CHM's
    * computeIfAbsent contract forbids the mapping function touching
    * other mappings — a nested key landing in the in-flight bin throws
    * IllegalStateException("Recursive update"). The lock map's own
    * computeIfAbsent is safe: its mapping function allocates a plain
    * Object and never touches the map.
    */
  private def once(key: String)(init: => String): String =
    Option(memo.get(key)).getOrElse {
      locks.computeIfAbsent(key, _ => new Object).synchronized {
        Option(memo.get(key)).getOrElse {
          val v = init
          memo.put(key, v)
          v
        }
      }
    }

  /** A per-(session, key) scratch DIRECTORY created and initialized at
    * most once, reclaimed at JVM exit — for stateful on-disk artifacts
    * (a GraphStore plus its views) rather than a single parquet table.
    * Unlike [[table]], the caller owns what's inside; the memo only
    * guarantees `init` ran exactly once for this session and key.
    */
  private[graft] def scratchDir(s: SparkSession, key: String, prefix: String)(
      init: String => Unit): String =
    once(s"${sessionId(s)}:dir:$key") {
      val p = tempDir(prefix)
      init(p)
      p
    }

  /** The materialized table for (session, key); `build` runs at most
    * once per key per session (see [[once]]) and its result is
    * persisted as parquet.
    */
  def table(s: SparkSession, key: String, prefix: String)(build: => DataFrame): DataFrame = {
    persistRoot match {
      case Some(root) if key.contains(":") =>
        val src = new java.io.File(key.substring(key.indexOf(':') + 1))
        // only local source dirs are content-fingerprintable; anything
        // else falls through to session scope
        if (src.isDirectory) return persistentTable(s, root, key, src)(build)
      case _ =>
    }
    val path = once(s"${sessionId(s)}:$key") {
      val p = tempDir(prefix)
      build.write.options(NioLocalFileSystem.writeOptions).mode("overwrite").parquet(p)
      p
    }
    // schema-memoized read (Par.readParquet): the dir is write-once for
    // this (session, key), and consumers re-read it dozens of times per
    // run — the per-read schema-inference job was pure floor cost
    Par.readParquet(s, path)
  }

  /** Complete versions each persistent store keeps (see the object
    * doc): the newest index and the one it superseded.
    */
  private val PersistKeepLast = 2

  /** Cross-JVM index table (see object doc): serve the newest complete
    * version of the key's store whose table is the source's current
    * fingerprint, else build one. No in-session memo on purpose:
    * re-resolving per call is a directory listing, and it is what
    * detects a source change MID-session (MatStoreSpec covers both).
    */
  private def persistentTable(s: SparkSession, root: String, key: String,
      src: java.io.File)(build: => DataFrame): DataFrame = {
    val name = key.takeWhile(_ != ':').replaceAll("[^A-Za-z0-9_-]", "_")
    val store = new VersionedTableStore(s,
      new java.io.File(root, s"${name}_${md5hex(key)}").toString, "_SUCCESS")
    val fp = fingerprint(src)
    def resolve = store.allVersions.reverseIterator
      .find(v => store.isComplete(v) && store.fs.exists(store.tablePath(v, fp)))
    // a version's table is never rewritten, and its path names the
    // fingerprint, so the schema-memoized read can't serve a stale schema
    def read(v: Long) = Par.readParquet(s, store.tablePath(v, fp).toString)
    resolve.map(read).getOrElse {
      locks.computeIfAbsent(s"persist:$key", _ => new Object).synchronized {
        resolve.map(read).getOrElse {
          val v = store.claim()
          // A source changed WHILE the build read it must not be
          // published under the pre-build fingerprint, which would serve
          // the new (or mixed) content as fresh forever. This call reads
          // the claimed, markerless version instead: no lookup serves it,
          // and the vacuum rule drops it once a newer version completes,
          // so the frame is valid only until the key's next resolve.
          val published = scala.util.Try {
            store.writeTable(build, store.tablePath(v, fp))
            fingerprint(src) == fp && { store.publish(v)(_ => ()); true }
          }
          // A build that failed while it still holds its claim rethrows
          // (`published.get`). Without the claim it lost a race: another
          // JVM claimed a later version, published it first, and its
          // vacuum dropped ours (markerless, below the newest complete
          // version) mid-build, so our write failed or left no table.
          // The loser discards its version and resolves again, which
          // serves the winner when it holds the current source.
          if (store.isClaimed(v) &&
              (published.isFailure || store.fs.exists(store.tablePath(v, fp)))) {
            if (published.get) store.vacuum(PersistKeepLast): Unit
            read(v)
          } else {
            store.fs.delete(store.versionPath(v), true)
            persistentTable(s, root, key, src)(build)
          }
        }
      }
    }
  }

  private val nameSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Like [[table]], but persisted as a catalog table bucketed (and
    * sorted) on `bucketCol` — downstream joins and aggregations keyed
    * on `bucketCol` read co-located buckets and plan without an
    * Exchange (see BucketingSpec). The files live in a tracked temp
    * dir (external table), so the shutdown hook reclaims them; the
    * catalog entry itself is session-scoped.
    */
  def bucketedTable(s: SparkSession, key: String, prefix: String,
      bucketCol: String, nBuckets: Int)(build: => DataFrame): DataFrame =
    s.table(once(s"${sessionId(s)}:bkt:$key") {
      val n = s"graft_bkt_${nameSeq.incrementAndGet()}"
      build.write.options(NioLocalFileSystem.writeOptions).mode("overwrite")
        .option("path", tempDir(prefix))
        .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
        .saveAsTable(n)
      // saveAsTable keeps write options as the table's storage
      // properties, and every scan passes those to its Hadoop conf:
      // with them, each file a scan opens would build an uncached file
      // system. They were for the write alone.
      val catalog = s.sessionState.catalog
      val t = catalog.getTableMetadata(TableIdentifier(n))
      catalog.alterTable(t.copy(storage = t.storage.copy(
        properties = t.storage.properties -- NioLocalFileSystem.writeOptions.keys)))
      n
    })
}
