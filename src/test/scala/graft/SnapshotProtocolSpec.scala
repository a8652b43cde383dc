package graft

import graft.dedup.MinHashIndex
import graft.graph.GraphStore
import graft.util.VersionedTableStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one snapshot protocol ([[VersionedTableStore]]) under the
  * conditions it exists for: writers in separate store instances (two
  * driver processes), a writer that died holding a claim, and a
  * GraphStore directory written by the earlier pointer-file layout.
  */
class SnapshotProtocolSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select(col("doc_id")).collect().map(_.getLong(0)).toSet

  private def entries(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSet

  test("racing index appends from separate instances never share a version or a segment") {
    // Two MinHashIndex instances on one directory model two driver
    // processes appending at once: each append must claim its own
    // version, so no segment is written by two writers. Which appends
    // the newest version contains is the single-writer contract's
    // business, not the claim's.
    val dir = Files.createTempDirectory("mhidx_race").toString
    val base = docs.filter(col("doc_id") % 8 === 0).localCheckpoint()
    assert(new MinHashIndex(spark, dir).build(base) == 1L)
    val batches = (1 to 6).map(i => docs.filter(col("doc_id") % 8 === i).localCheckpoint())
    val a = new MinHashIndex(spark, dir)
    val b = new MinHashIndex(spark, dir)
    val published = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(a -> Seq(0, 2, 4), b -> Seq(1, 3, 5)).map { case (idx, mine) =>
      new Thread(() => try {
        mine.foreach(i => published.add(idx.append(batches(i)) -> i))
      } catch { case e: Throwable => failures.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(failures.isEmpty, s"writer failed: ${failures.peek()}")

    val got = published.asScala.toSeq
    val versions = got.map(_._1)
    assert(versions.distinct.size == 6 && !versions.contains(1L),
      s"claimed versions must be distinct: $versions")
    assert(entries(s"$dir/seg") == (1L +: versions).map(v => s"s$v").toSet,
      "one segment per claimed version")
    // each segment holds exactly its own writer's batch: no segment was
    // written, or overwritten, by the other writer
    got.foreach { case (v, i) =>
      assert(ids(spark.read.parquet(s"$dir/seg/s$v/sig")) == ids(batches(i)),
        s"segment s$v does not hold batch $i alone")
    }
    // every complete version reads back over the segments it lists
    val st = new VersionedTableStore(spark, dir, "_INDEX_OK")
    assert(st.completeVersions == (1L +: versions).sorted)
    st.completeVersions.foreach { v =>
      val segs = Files.readAllLines(Paths.get(s"$dir/v$v/segments")).asScala.toSeq
      assert(segs.contains(s"s$v") && segs.contains("s1"))
      val sig = spark.read.parquet(segs.map(s => s"$dir/seg/$s/sig"): _*)
      assert(sig.count() == sig.select(col("doc_id")).distinct().count())
    }
    assert(a.version == b.version && a.version.contains(versions.max))
  }

  test("a crashed writer's claim is skipped, kept while newest, swept once a newer version completes") {
    val dir = Files.createTempDirectory("mhidx_claimcrash").toString
    val idx = new MinHashIndex(spark, dir)
    val base = docs.filter(col("doc_id") % 4 =!= 0).localCheckpoint()
    val batch = docs.filter(col("doc_id") % 4 === 0).localCheckpoint()
    idx.build(base)
    // a writer claims v2 through the real protocol, writes part of its
    // segment and of its version directory, and dies before the marker
    val crashed = new VersionedTableStore(spark, dir, "_INDEX_OK").claim()
    assert(crashed == 2L)
    base.limit(3).write.parquet(s"$dir/seg/s2/sig")
    Files.createDirectories(Paths.get(s"$dir/v2"))
    Files.write(Paths.get(s"$dir/v2/segments"), "s1\ns2".getBytes("UTF-8"))
    assert(idx.version.contains(1L))

    // newest claim above the newest complete version: it may still be
    // being written, so vacuum keeps its claim, directory and segment
    assert(idx.vacuum(1).isEmpty)
    assert(Seq("_claim.v2", "v2").forall(entries(dir)) && entries(s"$dir/seg")("s2"))

    // the next append skips the claimed version
    assert(idx.append(batch) == 3L)
    assert(idx.version.contains(3L))
    assert(ids(idx.signatures()) == ids(docs))

    // now older than the newest complete version: swept with its claim
    assert(idx.vacuum(1) == Seq(1L, 2L))
    assert(!entries(dir).exists(Set("_claim.v2", "v2", "v1")))
    assert(entries(s"$dir/seg") == Set("s1", "s3"))
    assert(ids(idx.signatures()) == ids(docs))
  }

  test("a GraphStore directory in the pointer-file layout reads back at the same version") {
    // the layout the earlier GraphStore wrote: claim files, v<k>
    // parquet snapshots and a `_CURRENT` pointer naming the newest one
    val base = Files.createTempDirectory("graph_pointer_layout").toString
    Seq(1 -> Seq((0, 1), (1, 2)), 2 -> Seq((4, 5))).foreach { case (v, edges) =>
      edges.toDF("src", "dst").write.parquet(s"$base/G/v$v")
      Files.createFile(Paths.get(s"$base/G/_claim.v$v"))
    }
    Files.write(Paths.get(s"$base/G/_CURRENT"), "v2".getBytes("UTF-8"))
    val store = new GraphStore(spark, base)
    assert(store.list() == Seq("G"))
    assert(store.currentVersion("G").contains(2L))
    assert(store.versions("G") == Seq(1L, 2L))
    def rows = store.read("G").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(rows == Set((4, 5)))
    // the leftover pointer is ignored: writes and vacuums carry on
    store.modify("G", Seq((7, 8)).toDF("src", "dst"))
    assert(store.currentVersion("G").contains(3L) && rows == Set((7, 8)))
    assert(store.vacuum("G", keepLast = 1) == Seq(1L, 2L))
    assert(store.readVersion("G", 3L).count() == 1)
  }
}
