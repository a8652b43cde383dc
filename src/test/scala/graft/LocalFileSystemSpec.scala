package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.dedup.MinHashIndex
import graft.graph.GraphStore
import graft.util.NioLocalFileSystem
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** [[NioLocalFileSystem]] writes what Hadoop's local file system
  * writes: the same entries, `.crc` files included, with the same
  * POSIX modes, for every file and directory a snapshot write creates.
  */
class LocalFileSystemSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every entry under `root` (not `root` itself), relative, with
    * whether it is a directory and its mode. Claim files are left out:
    * `claim` creates them with java.nio's atomic create, which applies
    * the process umask, not Hadoop's.
    */
  private def tree(root: JPath): Map[String, (Boolean, Int)] = {
    val all = Files.walk(root)
    try all.iterator().asScala.filterNot(_ == root)
      .filterNot(_.getFileName.toString.startsWith("_claim."))
      .map(p => root.relativize(p).toString -> (Files.isDirectory(p) -> mode(p))).toMap
    finally all.close()
  }

  /** The tree the session's default `file://` file system (a new,
    * uncached instance; Hadoop's local file system, behind Hive's proxy
    * when hive-exec is on the classpath) writes for `written`'s
    * directories and data files: its mkdirs and creates make the modes
    * and the `.crc` files.
    */
  private def hadoopTree(written: JPath): Map[String, (Boolean, Int)] = {
    val mirror = Files.createTempDirectory("graft_fs_mirror")
    val hadoop = FileSystem.newInstance(java.net.URI.create("file:///"), conf)
    try {
      tree(written).toSeq.sortBy(_._1).foreach { case (rel, (isDir, _)) =>
        val to = new Path(mirror.resolve(rel).toUri)
        if (isDir) hadoop.mkdirs(to)
        else if (!rel.endsWith(".crc")) hadoop.create(to, true).close()
      }
      tree(mirror)
    } finally hadoop.close()
  }

  private def frame: DataFrame = (0 until 30).map(v => (v, (v + 1) % 30)).toDF("src", "dst")

  /** Puts and index appends on both table-write paths. */
  private def writeAll(root: JPath): Unit = {
    val store = new GraphStore(spark, root.resolve("graphs").toString)
    store.put("small", frame): Unit
    SparkJobs.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      store.put("spark", frame): Unit
    }
    val idx = new MinHashIndex(spark, root.resolve("index").toString)
    val docs = Seq((1L, "a b c d e f g h"), (2L, "b c d e f g h i"), (3L, "x y z w v u t s"))
      .toDF("doc_id", "text")
    idx.build(docs.limit(2))
    idx.append(docs): Unit
  }

  private def checkAgainstHadoop(umask: Option[String]): Map[String, (Boolean, Int)] = {
    val old = Option(conf.get(FsPermission.UMASK_LABEL))
    umask.foreach(conf.set(FsPermission.UMASK_LABEL, _))
    try {
      val root = Files.createTempDirectory("graft_fs_modes")
      writeAll(root)
      val got = tree(root)
      assert(got.keys.exists(_.endsWith(".crc")))
      assert(got.keys.exists(k => k.contains("graphs/spark/") && k.contains("/part-")))
      assert(got == hadoopTree(root), s"umask $umask")
      got
    } finally old.fold(conf.unset(FsPermission.UMASK_LABEL))(conf.set(FsPermission.UMASK_LABEL, _))
  }

  test("a put and an index append write Hadoop's modes and .crc files, under the default umask") {
    checkAgainstHadoop(None): Unit
  }

  test("a put and an index append write Hadoop's modes and .crc files, under umask 077") {
    checkAgainstHadoop(Some("077")).foreach { case (rel, (isDir, m)) =>
      assert(m == octal(if (isDir) "700" else "600"), s"$rel: ${m.toOctalString}")
    }
  }

  test("a sticky bit takes Hadoop's own chmod; plain rwx bits fork nothing") {
    val dir = Files.createTempDirectory("graft_fs_sticky")
    val p = new Path(dir.toUri)
    val fs = NioLocalFileSystem.get(p, conf)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    def chmod(bits: String) = SparkJobs.forksOf(fs.setPermission(p, new FsPermission(octal(bits).toShort)))._2
    assert(chmod("750") == 0)
    assert(mode(dir) == octal("750"))
    assert(chmod("1755") == 1)
    assert(mode(dir) == octal("1755"))
  }
}
