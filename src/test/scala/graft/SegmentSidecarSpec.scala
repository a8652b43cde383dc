package graft

import java.io.ByteArrayOutputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws}
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{BloomSidecars, Par, SegmentedIndex}

/** What a segment append, a compaction and a read cost in Spark jobs,
  * and what the bloom sidecars hold: every sidecar claims every key of
  * the table it stands for, is sized for that table's row count, and
  * is byte for byte the bloom Spark's aggregate builds. Also pins each
  * index's `stats()`.
  */
class SegmentSidecarSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private def words(tag: String, n: Int = 12) = (0 until n).map(t => s"$tag$t").mkString(" ")

  private def jobsOf(body: => Any): Int = SparkJobs.jobsOf(body)._2.size

  private def localFs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  /** Checks every segment under `dir`: for each (table, sidecar, key),
    * the sidecar claims every key of the table and has the bit size a
    * bloom built for `rows(table)` keys has.
    */
  private def assertSidecarsCover(dir: String,
      blooms: Seq[(String, String, DataFrame => DataFrame)]): Unit = {
    val segs = new java.io.File(dir, "seg").listFiles().map(_.getName).sorted
    assert(segs.nonEmpty)
    for (seg <- segs; (table, sidecar, keysOf) <- blooms) {
      val keys = keysOf(spark.read.parquet(s"$dir/seg/$seg/$table")).collect().map(_.get(0))
      val bf = BloomSidecars.read(localFs, new Path(s"$dir/seg/$seg/$sidecar"))
      assert(bf != null, s"$seg/$sidecar missing")
      keys.foreach(k => assert(bf.mightContain(k), s"$seg/$sidecar does not claim $k"))
      val sized = BloomFilter.create(math.max(keys.length, 1).toLong, BloomSidecars.Fpp)
      assert(bf.bitSize() == sized.bitSize(),
        s"$seg/$sidecar is not sized for its ${keys.length} keys")
    }
  }

  private val mhBlooms: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("sig", "ids_bloom", _.select(col("doc_id"))),
    ("sig", "bands_bloom", sig => dedup.Dedup.bands(sig)
      .select(concat_ws(":", col("band"), col("bkey")))))

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
    assert(jobs == 16)
    assert(replayJobs == 12)
    assertSidecarsCover(dir, mhBlooms)
  }

  test("MinHashIndex: jobs per compaction and per read; a compaction's sidecars cover its tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sidecar_mhc").toString
    val idx = new dedup.MinHashIndex(spark, dir)
    idx.build(docs((1L, words("a")), (2L, words("b")), (3L, words("c"))))
    idx.append(docs((4L, words("a", 11)), (5L, words("d")))): Unit
    // a compaction's tables are small: written from the driver, each
    // from one collect, and its band bloom from one more
    val compactJobs = jobsOf(idx.compact())
    // a read, from this instance and from a new one, runs no
    // schema-inference job: building the frame runs none, a collect one
    val readJobs = jobsOf(idx.candidates())
    val coldReadJobs = jobsOf(new dedup.MinHashIndex(spark, dir).candidates())
    val collectJobs = jobsOf(idx.candidates().collect())
    info(s"jobs: compact $compactJobs, read $readJobs, cold read $coldReadJobs, collect $collectJobs")
    assert(idx.candidates().collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 4L)))
    assert(compactJobs == 3)
    assert(readJobs == 0 && coldReadJobs == 0)
    assert(collectJobs == 1)
    assertSidecarsCover(dir, mhBlooms)
  }

  test("BigramLmIndex.append: jobs per append, and sidecars cover their tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sidecar_lm").toString
    val idx = new text.BigramLmIndex(spark, dir)
    idx.build(docs((1L, words("a")), (2L, words("b"))))
    val jobs = jobsOf(idx.append(docs((3L, words("a", 6)), (4L, words("c")), (1L, words("a")))))
    val replayJobs = jobsOf(idx.append(docs((4L, words("c")))))
    info(s"jobs: append $jobs, replay $replayJobs")
    assert(jobs == 13)
    assert(replayJobs == 10)
    assertSidecarsCover(dir, Seq(
      ("census", "census_bloom", _.select(col("bigram"))),
      ("lefts", "lefts_bloom", _.select(col("w1"))),
      ("docs", "docs_bloom", _.select(col("doc_id")))))
  }

  test("a driver-built bloom is byte for byte the bloom Spark's aggregate builds") {
    import spark.implicits._
    def bytes(bf: BloomFilter): Seq[Byte] = {
      val out = new ByteArrayOutputStream
      bf.writeTo(out)
      out.toByteArray.toSeq
    }
    // `build` of a small frame hashes its collected rows on the driver
    def assertSame(df: DataFrame): Unit = {
      val n = df.count()
      assert(Par.broadcastSized(df))
      val (driver, jobs) = SparkJobs.jobsOf(BloomSidecars.build(df, "k", n))
      assert(jobs.isEmpty)
      assert(bytes(driver) == bytes(df.stat.bloomFilter("k", n, BloomSidecars.Fpp)))
    }
    val longs = Seq(Some(1L), None, Some(-7L), Some(Long.MaxValue), Some(1L << 40)).toDF("k")
    assertSame(longs)
    assertSame(Seq(3, -1, Int.MinValue, 42).toDF("k"))
    // strings hash as their UTF-8 bytes
    assertSame(Seq("a", "", null, "ü€ß", "doc 17").toDF("k"))
    // the aggregate caps its item count and bit size by session confs
    SparkJobs.withConf("spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> "2",
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> "256") {
      assertSame(longs)
    }
    // n = 0: an empty, never-matching bloom, which the aggregate (null
    // on zero rows) cannot give
    val empty = BloomSidecars.build(longs.limit(0), "k", 0)
    assert(bytes(empty) == bytes(BloomFilter.create(1, BloomSidecars.Fpp)))
    assert(!empty.mightContain(1L))
  }

  test("stats() of all six indexes: rows, bytes and false-positive rates, no job") {
    val vecs = {
      import spark.implicits._
      val r = new scala.util.Random(7)
      (0L until 200L).map(i => (i, Array.fill(64)(r.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    }
    val (vecs0, vecs1) = (vecs.filter(col("vec_id") % 3 =!= 0), vecs.filter(col("vec_id") % 3 === 0))
    val (docs0, docs1) = (docs((1L, words("a")), (2L, words("b")), (3L, words("c", 20))),
      docs((4L, words("a", 11)), (5L, words("d"))))
    def dir(name: String) = java.nio.file.Files.createTempDirectory(s"graft_stats_$name").toString
    // (index, its directory, build, append, its tables, its sidecars)
    type Case = (SegmentedIndex, String, () => Long, () => Long, Seq[String], Seq[String])
    val cases: Seq[Case] = Seq(
      { val d = dir("mh"); val i = new dedup.MinHashIndex(spark, d)
        (i, d, () => i.build(docs0), () => i.append(docs1), Seq("sig", "cand"),
          Seq("ids_bloom", "bands_bloom")) },
      { val d = dir("gram"); val i = new dedup.GramIndex(spark, d)
        (i, d, () => i.build(docs0), () => i.append(docs1), Seq("grams"), Seq("grams_bloom")) },
      { val d = dir("winnow"); val i = new text.WinnowIndex(spark, d)
        (i, d, () => i.build(docs0), () => i.append(docs1), Seq("census", "docs"),
          Seq("census_bloom", "docs_bloom")) },
      { val d = dir("lm"); val i = new text.BigramLmIndex(spark, d)
        (i, d, () => i.build(docs0), () => i.append(docs1), Seq("census", "lefts", "docs"),
          Seq("census_bloom", "lefts_bloom", "docs_bloom")) },
      { val d = dir("lsh"); val i = new sim.SignLshIndex(spark, d)
        (i, d, () => i.build(vecs0), () => i.append(vecs1), Seq("vec", "sig"), Seq("ids_bloom")) },
      { val d = dir("pq"); val i = new sim.PqIndex(spark, d)
        (i, d, () => i.build(vecs0, k = 3, iters = 1), () => i.append(vecs1), Seq("cells", "codes"),
          Seq("ids_bloom")) })

    def assertStats(c: Case, segments: Int): Unit = {
      val (idx, d, _, _, tables, sidecars) = c
      val (st, jobs) = SparkJobs.jobsOf(idx.stats())
      assert(jobs.isEmpty, s"$d: stats() ran ${jobs.size} jobs")
      assert(st.version == idx.version.get && st.segments.size == segments)
      for (s <- st.segments) {
        val segDir = java.nio.file.Paths.get(d, "seg", s.segment)
        assert(s.rows == tables.map(t =>
          t -> spark.read.parquet(segDir.resolve(t).toString).count()).toMap, s"$d/${s.segment}")
        assert(s.fpp == sidecars.map(b =>
          b -> BloomSidecars.read(localFs, new Path(segDir.resolve(b).toString)).expectedFpp()).toMap)
        // the segment's files, not the local file system's checksums
        val files = java.nio.file.Files.walk(segDir)
        try assert(s.bytes == files.filter(f => java.nio.file.Files.isRegularFile(f) &&
            !f.getFileName.toString.endsWith(".crc"))
          .mapToLong(java.nio.file.Files.size(_)).sum)
        finally files.close()
      }
      tables.foreach(t => assert(st.rows(t) == st.segments.map(_.rows(t)).sum))
      assert(st.bytes == st.segments.map(_.bytes).sum && st.bytes > 0)
    }

    for (c <- cases) {
      c._3(): Unit
      c._4(): Unit
      // the append carries the build segment's line forward
      assertStats(c, segments = 2)
      c._1.compact(): Unit
      assertStats(c, segments = 1)
    }
    val mh = cases.head._1.stats()
    assert(mh.rows("sig") == 5 && mh.rows("cand") == 1)
    assert(mh.segments.head.fpp.values.forall(p => p > 0 && p < 10 * BloomSidecars.Fpp))
  }
}
