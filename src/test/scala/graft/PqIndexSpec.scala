package graft

import graft.sim.PqIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incrementally-appended IVFADC code store must be
  * indistinguishable from a re-encode of the full corpus under the
  * same frozen model (append==rebuild, bit-exact — the code tables
  * AND the served ADC shortlist), serve the registered s12 output
  * exactly when built over the registered corpus, keep writes
  * O(delta), and report model staleness through the per-segment
  * reconstruction-error metadata.
  */
class PqIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private def rowSet(df: DataFrame) = df.collect().map(_.toSeq).toSet
  private def rowList(df: DataFrame) = df.collect().toSeq.map(_.toSeq)

  test("chained appends == merged append == frozen-model re-encode; replay idempotent; compact/vacuum preserve the serve") {
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val dayZero = vecs.filter(col("vec_id") % 5 < 3)
    val dayOne = vecs.filter(col("vec_id") % 5 === 3)
    val dayTwo = vecs.filter(col("vec_id") % 5 === 4)
    val queries = vecs.filter(col("vec_id") < 10)

    val idxDir = java.nio.file.Files.createTempDirectory("pqidx").toString
    val idx = new PqIndex(spark, idxDir)
    intercept[java.util.NoSuchElementException](idx.codes())
    idx.build(dayZero)
    assert(idx.version.contains(1L))
    assert(idx.reconstructionDrift() == 1.0,
      "at build the pooled error IS the baseline")

    idx.append(dayOne)
    idx.append(dayTwo)
    assert(idx.version.contains(3L))

    // one merged append over the same base — the code tables are a
    // pure per-vector function of the frozen model, so batch
    // boundaries must be invisible
    val merged = new PqIndex(spark,
      java.nio.file.Files.createTempDirectory("pqidx_m").toString)
    merged.build(dayZero)
    merged.append(dayOne.unionByName(dayTwo))
    assert(rowSet(idx.cells()) == rowSet(merged.cells()))
    assert(rowSet(idx.codes()) == rowSet(merged.codes()))
    assert(rowList(idx.adcTopK(queries)) == rowList(merged.adcTopK(queries)),
      "served ADC shortlist must be append-order independent")

    // an overlapping batch (full corpus, dayZero already ingested)
    // first-writer-wins down to the same tables
    val overlap = new PqIndex(spark,
      java.nio.file.Files.createTempDirectory("pqidx_o").toString)
    overlap.build(dayZero)
    overlap.append(vecs)
    assert(rowSet(overlap.cells()) == rowSet(idx.cells()))
    assert(rowSet(overlap.codes()) == rowSet(idx.codes()))

    // replaying a batch appends the empty delta — idempotent
    val beforeReplay = rowSet(idx.codes())
    idx.append(dayTwo)
    assert(idx.version.contains(4L))
    assert(rowSet(idx.codes()) == beforeReplay)
    val drift = idx.reconstructionDrift()

    // WRITES are O(delta): the replay segment (empty delta) is far
    // smaller than the build segment
    def segBytes(dir: String, seg: String): Long = {
      val p = java.nio.file.Paths.get(s"$dir/seg/$seg")
      if (!java.nio.file.Files.exists(p)) 0L
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
      }
    }
    assert(segBytes(idxDir, "s4") < segBytes(idxDir, "s1") / 2,
      "an empty-delta replay must not rewrite corpus-sized data")

    // compact: one segment, same tables, same serve, same drift
    // (err stats sum exactly); vacuum retires the old versions
    val cv = idx.compact()
    idx.vacuum(1): Unit
    assert(idx.version.contains(cv))
    assert(rowSet(idx.codes()) == beforeReplay)
    assert(rowList(idx.adcTopK(queries)) == rowList(merged.adcTopK(queries)))
    assert(math.abs(idx.reconstructionDrift() - drift) < 1e-12,
      "compaction must not perturb the drift signal")
  }

  test("an index built over the registered corpus serves the registered s12 bit-exactly, floats never stored") {
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("pqidx_s12").toString
    val idx = new PqIndex(spark, dir)
    idx.build(vecs)
    val served = rowList(idx.adcTopK(vecs.filter(col("vec_id") < 10)))
    val registered = rowList(SparkEntry.queries("s12_ivfpq")(spark, sf))
    assert(served == registered,
      "storage-served IVFADC != the registered s12 (model or score drift)")
    // the store carries ONLY cells + codes + the tiny model — no
    // embedding column anywhere on disk (the 100 TB point of IVFADC)
    import scala.jdk.CollectionConverters._
    val parquets = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    val withFloats = parquets.filter { p =>
      val s = spark.read.parquet(p.toString).schema
      s.exists(f => f.dataType.typeName == "array" && f.name == "embedding")
    }
    assert(withFloats.isEmpty,
      s"float vectors leaked into the code store: $withFloats")
  }

  test("build runs one residual step: its job count") {
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val idx = new PqIndex(spark, java.nio.file.Files.createTempDirectory("pqidx_jobs").toString)
    val n = SparkJobs.jobsOf(idx.build(vecs))._2.size
    info(s"build: $n jobs")
    assert(n == 66)
  }

  test("the model reads run no job, on the building instance and on a new one") {
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("pqidx_model").toString
    val idx = new PqIndex(spark, dir)
    idx.build(vecs.filter(col("vec_id") % 2 === 0), k = 4, iters = 1)
    for (i <- Seq(idx, new PqIndex(spark, dir))) {
      val ((cents, books), jobs) = SparkJobs.jobsOf((i.coarseCentroids(), i.codebooks()))
      val n = jobs.size
      assert(n == 0)
      assert(cents.count() == 4 && books.count() == sim.Pq.M * sim.Pq.K)
    }
  }

  test("a rebuild that fails before it publishes leaves the served version's model") {
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("pqidx_fail").toString
    val idx = new PqIndex(spark, dir)
    idx.build(vecs.filter(col("vec_id") % 2 === 0))
    idx.append(vecs.filter(col("vec_id") % 2 === 1)): Unit
    val v = idx.version.get
    val served = rowList(idx.adcTopK(queries))
    val drift = idx.reconstructionDrift()
    // the rebuild trains another model on other vectors, then cannot
    // write its segment: a file stands where its claimed version's
    // segment directory goes
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "seg", s"s${v + 1}"))
    intercept[Exception](idx.build(vecs.filter(col("vec_id") % 3 === 0), k = 5, iters = 1))
    for (i <- Seq(idx, new PqIndex(spark, dir))) {
      assert(i.version.contains(v))
      assert(rowList(i.adcTopK(queries)) == served, "the failed rebuild changed the served shortlist")
      assert(i.reconstructionDrift() == drift, "the failed rebuild changed the drift baseline")
    }
  }

  test("pqIngestStream: streamed ingest equals batch appends bit-exact; emissions are the fresh deltas; replay re-emits identically without re-appending") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val day0 = vecs.filter(col("vec_id") % 5 < 3)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val batchA = rows(vecs.filter(col("vec_id") % 5 === 3))
    // B replays part of A — cross-batch repeats must be first-writer-wins
    val batchB = rows(vecs.filter(col("vec_id") % 5 === 4)) ++ batchA.take(10)

    val idx = new PqIndex(spark,
      java.nio.file.Files.createTempDirectory("pqidx_st").toString)
    idx.build(day0)
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Long]]
    val in = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamOps.pqIngestStream(
      in.toDF().toDF("vec_id", "embedding"), idx) { d =>
      emitted += d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }.start()
    try {
      in.addData(batchA.toSeq); q.processAllAvailable()
      in.addData(batchB.toSeq); q.processAllAvailable()
    } finally q.stop()

    // batch twin: same base, same two appends
    val twin = new PqIndex(spark,
      java.nio.file.Files.createTempDirectory("pqidx_st_tw").toString)
    twin.build(day0)
    twin.append(batchA.toSeq.toDF("vec_id", "embedding"))
    twin.append(batchB.toSeq.toDF("vec_id", "embedding"))
    def rowSet2(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rowSet2(idx.cells()) == rowSet2(twin.cells()))
    assert(rowSet2(idx.codes()) == rowSet2(twin.codes()))

    // emissions are exactly each trigger's FRESH assignments
    assert(emitted.size == 2)
    assert(emitted(0).keySet == batchA.map(_._1).toSet)
    assert(emitted(1).keySet == batchB.map(_._1).toSet -- batchA.map(_._1).toSet,
      "replayed ids must not re-emit in a later batch")
    val stored = idx.cells().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    emitted.foreach(_.foreach { case (id, cell) => assert(stored(id) == cell) })

    // crash replay: same batchId + same content -> the tagged version
    // is found, nothing appends, the SAME rows re-emit
    val vBefore = idx.version.get
    var replayed: Map[Long, Long] = Map.empty
    graft.streaming.StreamOps.pqIngestBatch(idx,
      batchB.toSeq.toDF("vec_id", "embedding"), 1L)(d =>
      replayed = d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(idx.version.contains(vBefore), "replay must not publish a new version")
    assert(replayed == emitted(1), "replay must re-emit the original delta")
  }

  test("reconstructionDrift rises when appended vectors leave the build distribution") {
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val base = vecs.filter(col("vec_id") % 2 === 0)
    val inDist = vecs.filter(col("vec_id") % 2 === 1)
    // out-of-distribution: 4×-scaled vectors under fresh ids (the
    // synthetic corpus is symmetric about the origin, so negation is
    // distribution-PRESERVING — a norm shift is not) — their residuals
    // against the frozen coarse centroids are large, so the frozen
    // residual codebooks quantize them badly
    val ood = vecs.filter(col("vec_id") % 2 === 1)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        expr("transform(embedding, x -> x * cast(4.0 as float))").as("embedding"))

    val a = new PqIndex(spark,
      java.nio.file.Files.createTempDirectory("pqidx_in").toString)
    a.build(base)
    a.append(inDist)
    val inDrift = a.reconstructionDrift()

    val b = new PqIndex(spark,
      java.nio.file.Files.createTempDirectory("pqidx_ood").toString)
    b.build(base)
    b.append(ood)
    val oodDrift = b.reconstructionDrift()

    assert(inDrift < oodDrift,
      s"in-distribution append ($inDrift) must drift less than OOD ($oodDrift)")
    assert(oodDrift > 2.0,
      s"scaled-corpus append should push pooled error well past the baseline, got $oodDrift")
    assert(inDrift < 1.5,
      s"statistically-identical append should stay near baseline, got $inDrift")
  }
}
