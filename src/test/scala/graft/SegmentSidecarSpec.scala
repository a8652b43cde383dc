package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws}
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

import graft.util.BloomSidecars

/** What a segment append costs in Spark jobs, and what its bloom
  * sidecars hold: every sidecar claims every key of the table it
  * stands for, and is sized for that table's row count.
  */
class SegmentSidecarSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private def words(tag: String, n: Int = 12) = (0 until n).map(t => s"$tag$t").mkString(" ")

  private def jobsOf(body: => Long): Int = SparkJobs.jobsOf(body)._2.size

  /** Checks every segment under `dir`: for each (table, sidecar, key),
    * the sidecar claims every key of the table and has the bit size a
    * bloom built for `rows(table)` keys has.
    */
  private def assertSidecarsCover(dir: String,
      blooms: Seq[(String, String, DataFrame => DataFrame)]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val segs = new java.io.File(dir, "seg").listFiles().map(_.getName).sorted
    assert(segs.nonEmpty)
    for (seg <- segs; (table, sidecar, keysOf) <- blooms) {
      val keys = keysOf(spark.read.parquet(s"$dir/seg/$seg/$table")).collect().map(_.get(0))
      val bf = BloomSidecars.read(fs, new Path(s"$dir/seg/$seg/$sidecar"))
      assert(bf != null, s"$seg/$sidecar missing")
      keys.foreach(k => assert(bf.mightContain(k), s"$seg/$sidecar does not claim $k"))
      val sized = BloomFilter.create(math.max(keys.length, 1).toLong, BloomSidecars.Fpp)
      assert(bf.bitSize() == sized.bitSize(),
        s"$seg/$sidecar is not sized for its ${keys.length} keys")
    }
  }

  test("MinHashIndex.append: jobs per append, and sidecars cover their tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sidecar_mh").toString
    val idx = new dedup.MinHashIndex(spark, dir)
    idx.build(docs((1L, words("a")), (2L, words("b")), (3L, words("c"))))
    // a near copy of doc 1 (a band collision with segment s1), a fresh
    // doc, and a re-ingested id
    val jobs = jobsOf(idx.append(docs((4L, words("a", 11)), (5L, words("d")), (2L, words("b")))))
    // an append whose ids are all known writes an empty segment
    val replayJobs = jobsOf(idx.append(docs((5L, words("d")))))
    info(s"jobs: append $jobs, replay $replayJobs")
    assert(idx.candidates().collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 4L)))
    assert(jobs == 21)
    assert(replayJobs == 14)
    assertSidecarsCover(dir, Seq(
      ("sig", "ids_bloom", _.select(col("doc_id"))),
      ("sig", "bands_bloom", sig => dedup.Dedup.bands(sig)
        .select(concat_ws(":", col("band"), col("bkey"))))))
  }

  test("BigramLmIndex.append: jobs per append, and sidecars cover their tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sidecar_lm").toString
    val idx = new text.BigramLmIndex(spark, dir)
    idx.build(docs((1L, words("a")), (2L, words("b"))))
    val jobs = jobsOf(idx.append(docs((3L, words("a", 6)), (4L, words("c")), (1L, words("a")))))
    val replayJobs = jobsOf(idx.append(docs((4L, words("c")))))
    info(s"jobs: append $jobs, replay $replayJobs")
    assert(jobs == 20)
    assert(replayJobs == 14)
    assertSidecarsCover(dir, Seq(
      ("census", "census_bloom", _.select(col("bigram"))),
      ("lefts", "lefts_bloom", _.select(col("w1"))),
      ("docs", "docs_bloom", _.select(col("doc_id")))))
  }
}
