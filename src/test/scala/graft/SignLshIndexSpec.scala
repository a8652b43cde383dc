package graft

import graft.functions.VectorFunctions.floatNorm
import graft.sim.{Similarity, SignLshIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incrementally-appended sign-LSH index must be indistinguishable
  * from a from-scratch build: same signatures, same bit-exact ANN
  * graph (s06's oracle hashes cosine bits, so "close" is not enough),
  * with O(delta) writes — the daily-crawl amortization contract.
  */
class SignLshIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.01"

  test("chained appends equal a full rebuild, bit-exact, with O(delta) writes") {
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    // yesterday's corpus and two daily increments — all with the same
    // calibrated family (annParams is flat across these sizes, which
    // is what makes a pinned-family index coherent at all)
    val dayZero = vecs.filter(col("vec_id") % 5 < 3)
    val dayOne = vecs.filter(col("vec_id") % 5 === 3)
    val dayTwo = vecs.filter(col("vec_id") % 5 === 4)

    val idxDir = java.nio.file.Files.createTempDirectory("signidx").toString
    val idx = new SignLshIndex(spark, idxDir)
    intercept[java.util.NoSuchElementException](idx.signatures())
    idx.build(dayZero)
    assert(idx.version.contains(1L))
    val pinned = idx.params

    def rowSet(df: DataFrame) = df.collect().map(_.toSeq).toSet
    def assertEqualsRebuild(corpus: DataFrame): Unit = {
      val rebuildDir = java.nio.file.Files.createTempDirectory("signidx_rb").toString
      val rebuilt = new SignLshIndex(spark, rebuildDir)
      rebuilt.build(corpus)
      assert(rebuilt.params == pinned, "family must be flat across these sizes")
      assert(rowSet(idx.signatures()) == rowSet(rebuilt.signatures()))
      assert(rowSet(idx.annGraph()) == rowSet(rebuilt.annGraph()))
      assert(rowSet(idx.annGraphQuantized()) == rowSet(rebuilt.annGraphQuantized()),
        "quantized serve path must be append-order independent too")
    }

    def dirBytes(rel: String): Long = {
      val p = java.nio.file.Paths.get(s"$idxDir/$rel")
      if (!java.nio.file.Files.exists(p)) 0L
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
      }
    }

    // delta refresh: only dayOne is normed+signed, family stays pinned
    idx.append(dayOne)
    assert(idx.version.contains(2L))
    assert(idx.params == pinned)
    assertEqualsRebuild(dayZero.unionByName(dayOne))

    // chained second append stays equal — and now the index holds the
    // full corpus, so it must serve the bit-exact graph the library
    // operator computes for the same family
    idx.append(dayTwo)
    assert(idx.version.contains(3L))
    assertEqualsRebuild(vecs)
    val (bits, tables) = pinned
    assert(rowSet(idx.annGraph()) ==
      rowSet(Similarity.annGraphBroadcast(Tables(spark, sf, "embeddings")
        .withColumn("nrm", floatNorm(col("embedding"))), bits, tables)),
      "index-served graph != the library's graph for the same family")

    // replaying an overlapping batch is idempotent (first-writer-wins)
    idx.append(dayTwo)
    assert(idx.version.contains(4L))
    assertEqualsRebuild(vecs)

    // WRITES are O(delta): dayOne's segment (20%) is smaller than the
    // base build (60%), the idempotent replay's (empty delta) smaller
    // still, and a version publish is manifest-sized
    val base = dirBytes("seg/s1")
    assert(base > 0)
    assert(dirBytes("seg/s2") < base,
      "append must write a delta-sized segment, not rewrite the index")
    assert(dirBytes("seg/s4") < dirBytes("seg/s2"),
      "an empty delta's segment must be near-empty")
    assert(dirBytes("v4") < 4096, "a version publish is manifest-sized")

    // occupancy drifts up as the corpus grows past the build-time
    // calibration — the documented rebuild signal
    assert(idx.occupancy() > 0.0)

    // retention sweeps history, keeps the served snapshot readable
    assert(idx.vacuum(1).toSet == Set(1L, 2L, 3L))
    assertEqualsRebuild(vecs)

    // a markerless crash leftover is invisible; the next append
    // publishes right past the garbage
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$idxDir/v9/sig"))
    assert(idx.version.contains(4L))
    idx.append(dayTwo)
    assert(idx.version.contains(5L))
    assertEqualsRebuild(vecs)

    // compaction merges the per-ingest segments into one; the pinned
    // family and the served graph are unchanged, bit-exact
    assert(idx.compact() == 6L)
    assert(idx.params == pinned)
    assertEqualsRebuild(vecs)
  }

  test("served ANN graph: no broadcast, no sort-merge join, under the DEFAULT session config") {
    // The serve path runs the shared strategy-pinned pipeline
    // (Similarity.candidatePairsCanonical / rerankTop3From). This
    // asserts the two sf3-measured planner misfires can't recur here:
    // (a) the exploded probe stream — whose size ESTIMATE is the
    // column-pruned stored index, far under the broadcast threshold —
    // must not be broadcast (8 GiB death at scale); (b) the wide
    // pair+embedding stream must not go through a sort-merge join
    // (the ~90 GB spill). Deliberately run under the session's
    // DEFAULT autoBroadcastJoinThreshold: the hints, not a disabled
    // planner feature, must be what pins the strategy.
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1",
      "this spec must run under a default broadcast threshold")
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val idxDir = java.nio.file.Files.createTempDirectory("signidx_plan").toString
    val idx = new SignLshIndex(spark, idxDir)
    idx.build(vecs)
    val served = idx.annGraph()
    served.collect() // drive AQE to its final plan before inspecting
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      "served ANN graph broadcast a stream — the sf3 probe-estimate trap")
    assert(!plan.contains("SortMergeJoin"),
      "served ANN graph sort-merge-joined — the sf3 wide-stream spill trap")
    // the quantized serve path shares the pipeline and must hold the
    // same pins — it exists precisely for the past-envelope regime
    val servedQ = idx.annGraphQuantized()
    servedQ.collect()
    val planQ = servedQ.queryExecution.executedPlan.toString
    assert(!planQ.contains("BroadcastExchange") && !planQ.contains("SortMergeJoin"),
      s"quantized serve path lost a strategy pin:\n$planQ")
  }

  test("format guard: a pre-quantization index refuses append + quantized serve; compact() upgrades in place") {
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val dayZero = vecs.filter(col("vec_id") % 5 < 3)
    val dayOne = vecs.filter(col("vec_id") % 5 >= 3)
    val idxDir = java.nio.file.Files.createTempDirectory("signidx_fmt").toString
    new SignLshIndex(spark, idxDir).build(dayZero)

    // Rewrite the on-disk index to the pre-quantization layout an old
    // build left behind: vec segments WITHOUT qv/qn2, no format stamp.
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    val vecPath = java.nio.file.Paths.get(s"$idxDir/seg/s1/vec")
    val stripped = spark.read.parquet(vecPath.toString)
      .select("vec_id", "embedding", "nrm")
    val tmp = java.nio.file.Files.createTempDirectory("signidx_fmt_tmp")
      .resolve("vec")
    stripped.write.parquet(tmp.toString) // materialized BEFORE the delete
    rmTree(vecPath)
    java.nio.file.Files.move(tmp, vecPath)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$idxDir/v1/format"))

    val old = new SignLshIndex(spark, idxDir)
    assert(old.formatVersion == 1)
    // the quantized serve would score old-segment vectors with NULL
    // qv (the -2.0 sentinel) — it must refuse, not serve a wrong graph
    intercept[IllegalStateException](old.annGraphQuantized())
    // an append would publish a mixed-schema manifest — refuse too
    intercept[IllegalStateException](old.append(dayOne))
    // the float paths read a UNIFORM old layout and still serve
    assert(old.annGraph().count() > 0)
    // a second instance that read the old layout before the upgrade
    val reader = new SignLshIndex(spark, idxDir)
    assert(reader.annGraph().count() > 0)

    // compact() is the upgrade: backfill-quantize + restamp, then the
    // index appends and serves exactly like one built by current code
    assert(old.compact() == 2L)
    assert(old.formatVersion == 2)
    old.append(dayOne)
    val rebuilt = new SignLshIndex(spark,
      java.nio.file.Files.createTempDirectory("signidx_fmt_rb").toString)
    rebuilt.build(dayZero.unionByName(dayOne))
    def rowSet(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rowSet(old.annGraphQuantized()) == rowSet(rebuilt.annGraphQuantized()),
      "upgraded index must serve the bit-exact quantized graph")
    assert(rowSet(reader.annGraphQuantized()) == rowSet(rebuilt.annGraphQuantized()),
      "an instance that read the old layout must serve the upgraded one")
  }

  test("quantized serve path: stored int8 scores are bit-exact vs a driver recount") {
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val idxDir = java.nio.file.Files.createTempDirectory("signidx_q").toString
    val idx = new SignLshIndex(spark, idxDir)
    idx.build(vecs)
    val emb = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def quant(x: Array[Float]): Array[Long] = {
      val maxabs = x.map(v => math.abs(v.toDouble)).foldLeft(0.0)(math.max)
      if (maxabs == 0.0) x.map(_ => 0L)
      else x.map(v => java.math.BigDecimal.valueOf(v.toDouble * 127.0 / maxabs)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
    }
    def qcos(a: Array[Float], b: Array[Float]): Double = {
      val (qa, qb) = (quant(a), quant(b))
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
      val (n2a, n2b) = (qa.map(x => x * x).sum, qb.map(x => x * x).sum)
      if (n2a > 0 && n2b > 0) dot.toDouble / math.sqrt((n2a * n2b).toDouble)
      else -2.0
    }
    val got = idx.annGraphQuantized().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    // every served pair's score must equal the from-scratch int8
    // arithmetic on the raw floats, bit for bit
    got.foreach { case (q, n, s) =>
      assert(s == qcos(emb(q), emb(n)), s"pair ($q,$n) score drifted")
    }
  }

  test("a build over a corpus that repeats a vec_id stores one vec row per id") {
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
      .filter(col("vec_id") % 10 === 0)
    val repeated = vecs.orderBy(col("vec_id")).limit(1)
    val idx = new SignLshIndex(spark,
      java.nio.file.Files.createTempDirectory("signidx_dup").toString)
    idx.build(vecs.unionByName(repeated))
    val stored = idx.vectors()
    assert(stored.count() == vecs.count())
    assert(stored.select("vec_id").distinct().count() == stored.count(),
      "a repeated vec_id must be stored once")
  }
}
