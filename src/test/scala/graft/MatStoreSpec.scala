package graft

import graft.util.{MatStore, VersionedTableStore}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class MatStoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** The store MatStore publishes the `name:` key's tables through,
    * found by its key directory under the persist root.
    */
  private def storeOf(root: String, name: String): VersionedTableStore = {
    val dirs = new java.io.File(root).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith(s"${name}_"))
    assert(dirs.length == 1)
    new VersionedTableStore(spark, dirs.head.toString, "_SUCCESS")
  }

  test("persistent mode serves across sessions and rebuilds on content change") {
    val root = java.nio.file.Files.createTempDirectory("graftidx").toString
    val src = java.nio.file.Files.createTempDirectory("graftsrc").toString
    Seq((1, "a"), (2, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$src/t")
    var builds = 0
    def serve() = MatStore.table(spark, s"idx:$src", "graft_test") {
      builds += 1
      spark.read.parquet(s"$src/t")
    }
    sys.props("graft.index.dir") = root
    try {
      assert(serve().count() == 2 && builds == 1)
      // persistent mode has NO session memo: a second resolve re-reads
      // the published table exactly as a fresh JVM would — no rebuild
      assert(serve().count() == 2 && builds == 1)
      val store = storeOf(root, "idx")
      assert(store.completeVersions == Seq(1L))
      // source content change -> new fingerprint -> stale detected,
      // index rebuilt mid-session into a new version
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$src/t")
      assert(serve().count() == 3 && builds == 2)
      assert(serve().count() == 3 && builds == 2)
      // the store keeps its newest two versions: a reader mid-query on
      // the superseded index (in another JVM, or a lazily evaluated
      // frame in this one) keeps its files through one more rebuild
      assert(store.retainedVersions == Seq(1L, 2L))
      // a second content change publishes v3 and drops v1 only
      Seq((4, "d")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$src/t")
      assert(serve().count() == 1 && builds == 3)
      assert(store.retainedVersions == Seq(2L, 3L))
      assert(store.completeVersions == Seq(2L, 3L))
    } finally sys.props.remove("graft.index.dir"): Unit
  }

  test("a source changed mid-build is served session-scoped, not published") {
    val root = java.nio.file.Files.createTempDirectory("graftidx3").toString
    val src = java.nio.file.Files.createTempDirectory("graftsrc3").toString
    Seq((1, "a")).toDF("id", "v").write.mode("overwrite").parquet(s"$src/t")
    sys.props("graft.index.dir") = root
    try {
      var builds = 0
      def serve() = MatStore.table(spark, s"idx3:$src", "graft_test") {
        builds += 1
        if (builds == 1) {
          // simulate a writer racing the index job: the corpus is
          // rewritten while the build is reading it
          Seq((1, "a"), (2, "b")).toDF("id", "v")
            .write.mode("overwrite").parquet(s"$src/t")
        }
        spark.read.parquet(s"$src/t")
      }
      // the racy build serves its result to this call...
      assert(serve().count() == 2 && builds == 1)
      // ...from its claimed version, which it never marks complete:
      // the post-build fingerprint no longer matches the pre-build one
      val store = storeOf(root, "idx3")
      assert(store.allVersions == Seq(1L) && store.isClaimed(1L))
      assert(store.completeVersions.isEmpty)
      // no later lookup serves it: the next resolve sees the settled
      // source, rebuilds into a new version, publishes it, and the
      // vacuum drops the racy leftover below it
      assert(serve().count() == 2 && builds == 2)
      assert(store.completeVersions == Seq(2L))
      assert(store.retainedVersions == Seq(2L))
      assert(serve().count() == 2 && builds == 2)
    } finally sys.props.remove("graft.index.dir"): Unit
  }

  test("another writer's claimed, unpublished version is neither served nor vacuumed") {
    val root = java.nio.file.Files.createTempDirectory("graftidx4").toString
    val src = java.nio.file.Files.createTempDirectory("graftsrc4").toString
    Seq((1, "a"), (2, "b")).toDF("id", "v").write.mode("overwrite").parquet(s"$src/t")
    sys.props("graft.index.dir") = root
    try {
      var builds = 0
      var other: VersionedTableStore = null
      var planted = 0L
      def serve() = MatStore.table(spark, s"idx4:$src", "graft_test") {
        builds += 1
        if (builds == 1) {
          // a second writer on the key directory claims the next
          // version while this build runs, and writes a table under
          // the current fingerprint (one row) without publishing it
          other = storeOf(root, "idx4")
          planted = other.claim()
          other.writeTable(Seq((9, "z")).toDF("id", "v"),
            other.tablePath(planted, MatStore.fingerprint(new java.io.File(src))))
        }
        spark.read.parquet(s"$src/t")
      }
      assert(serve().count() == 2 && builds == 1)
      assert(planted == 2L)
      // this process published v1 and vacuumed; the newer markerless
      // v2 is claimed and may still be being written, so it stays
      assert(other.completeVersions == Seq(1L))
      assert(other.retainedVersions == Seq(1L, 2L) && other.isClaimed(2L))
      // and a lookup serves the complete v1, never the newer v2
      assert(serve().count() == 2 && builds == 1)
      assert(other.retainedVersions == Seq(1L, 2L))
    } finally sys.props.remove("graft.index.dir"): Unit
  }

  test("a build that another writer's newer publish vacuums mid-write serves the winner") {
    // both table writes: the driver's (a broadcast-sized frame) and
    // Spark's, whose committer's `_temporary` the vacuum deletes
    for (threshold <- Seq("-1", "10485760")) SparkJobs.withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> threshold) {
      val root = java.nio.file.Files.createTempDirectory("graftidx5").toString
      val src = java.nio.file.Files.createTempDirectory("graftsrc5").toString
      Seq((1, "a"), (2, "b")).toDF("id", "v").write.mode("overwrite").parquet(s"$src/t")
      sys.props("graft.index.dir") = root
      try {
        var builds = 0
        var other: VersionedTableStore = null
        val racer = org.apache.spark.sql.functions.udf { (id: Int) =>
          MatStoreRace.fire(); id
        }
        def serve() = MatStore.table(spark, s"idx5:$src", "graft_test") {
          builds += 1
          if (builds == 1) {
            // a second writer claims v2 and builds the same source's
            // table; it publishes and vacuums while this process's
            // write of v1 runs, which drops markerless v1 below it
            other = storeOf(root, "idx5")
            val planted = other.claim()
            other.writeTable(Seq((1, "a"), (2, "b")).toDF("id", "v"),
              other.tablePath(planted, MatStore.fingerprint(new java.io.File(src))))
            MatStoreRace.arm { () =>
              other.publish(planted)(_ => ())
              other.vacuum(2): Unit
            }
          }
          spark.read.parquet(s"$src/t").select(racer($"id").as("id"), $"v")
        }
        // this process lost the race: it serves the winner's table
        assert(serve().as[(Int, String)].collect().sorted.toSeq == Seq((1, "a"), (2, "b")))
        assert(builds == 1)
        assert(other.completeVersions == Seq(2L))
        assert(other.retainedVersions == Seq(2L))
        assert(serve().count() == 2 && builds == 1)
      } finally {
        MatStoreRace.arm(null)
        sys.props.remove("graft.index.dir"): Unit
      }
    }
  }

  test("without a persist root, tables stay session-scoped and memoized") {
    val src = java.nio.file.Files.createTempDirectory("graftsrc2").toString
    Seq((1, "a")).toDF("id", "v").write.mode("overwrite").parquet(s"$src/t")
    var builds = 0
    def serve() = MatStore.table(spark, s"idx2:$src", "graft_test") {
      builds += 1
      spark.read.parquet(s"$src/t")
    }
    assert(serve().count() == 1 && builds == 1)
    assert(serve().count() == 1 && builds == 1) // session memo, no rebuild
  }
}

/** A hook a build's task runs once, on its first row: a stand-in for a
  * second JVM's writer acting while this process's index write runs.
  */
object MatStoreRace {
  private val hook = new java.util.concurrent.atomic.AtomicReference[() => Unit]
  def arm(f: () => Unit): Unit = hook.set(f)
  def fire(): Unit = Option(hook.getAndSet(null)).foreach(_())
}
