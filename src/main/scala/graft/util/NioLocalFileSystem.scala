package graft.util

import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system (`LocalFileSystem`: the same `.crc`
  * sidecars and checksum verification) whose permission calls run in
  * this process. Hadoop's `RawLocalFileSystem.setPermission` calls
  * `NativeIO.POSIX.chmod` when the native library is loaded and forks
  * a `chmod` process when it is not, and it is called for every new
  * directory and every file create, `.crc` files included: about 4
  * milliseconds per call on a 4-core host, several per small table
  * write. Here the same nine rwx bits (the caller's permission, umask
  * already applied) are set with java.nio, which is the native chmod's
  * system call; a permission with the sticky bit, or a platform
  * without POSIX file attributes, still takes Hadoop's own path.
  *
  * [[VersionedTableStore]] uses it for every `file://` store: as the
  * store's `fs`, and through [[NioLocalFileSystem.writeOptions]] in
  * the Hadoop configuration of its table writes. [[MatStore]]'s
  * session and bucketed tables and [[graft.sim.PqIndex]]'s model writes
  * pass the same options.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** Hadoop configuration entries that make a write's `file://`
    * operations go through this file system: a Spark write takes them
    * as `DataFrameWriter` options, a driver write sets them on its own
    * configuration copy. The cache is off because Hadoop's file system
    * cache is keyed by scheme, not by implementation: a cached instance
    * would be Hadoop's `LocalFileSystem` or this one, whichever a
    * configuration asked for first. Other schemes are unaffected.
    * `saveAsTable` keeps write options as the catalog table's storage
    * properties, which every later scan of it would pass on, opening
    * its files through uncached instances: a catalog table drops them
    * once written ([[MatStore.bucketedTable]]).
    */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  // One live SparkContext per JVM, so the stores of a process share
  // one Hadoop configuration: a one-entry memo keeps one instance for
  // it without holding on to a configuration that was replaced.
  @volatile private var last: NioLocalFileSystem = _

  /** `p`'s file system under `conf`: for a `file://` path this file
    * system, one instance per configuration; otherwise Hadoop's.
    */
  def get(p: Path, conf: Configuration): FileSystem = {
    val fs = p.getFileSystem(conf)
    if (fs.getUri.getScheme == "file") instance(conf) else fs
  }

  private def instance(conf: Configuration): NioLocalFileSystem = {
    val cur = last
    if (cur != null && (cur.getConf eq conf)) cur
    else synchronized {
      if (last == null || !(last.getConf eq conf)) {
        // as Hadoop's FileSystem.get builds one: setConf, then initialize
        val fs = new NioLocalFileSystem
        fs.setConf(conf)
        fs.initialize(java.net.URI.create("file:///"), conf)
        last = fs
      }
      last
    }
  }

  private val posix =
    java.nio.file.FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `RawLocalFileSystem` with [[setPermission]] in-process. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit || !posix) super.setPermission(p, permission)
      else {
        // PosixFilePermission's order is OWNER_READ .. OTHERS_EXECUTE,
        // octal 0400 down to 0001
        val bits = permission.toShort & 0x1ff
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values.foreach(q => if ((bits >> (8 - q.ordinal) & 1) == 1) perms.add(q))
        java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, perms): Unit
      }
  }
}
