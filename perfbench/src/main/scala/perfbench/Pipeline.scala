package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.dedup.{Dedup, MinHashIndex}

/** pipeline_batch: the training-data user. Each pass ingests a seeded
  * document batch into a MinHash index restored to the same base, then
  * runs a fixed query subset across the ops, dedup, sim, text and graph
  * modules, materialising each as graft.Bench does.
  */
final class Pipeline(spark: SparkSession, root: Path, data: String, seed: Long,
    tracer: Tracer, report: Report) {
  import Pipeline._

  private val baseIndex = root.resolve("index-base")
  private val workIndex = root.resolve("index-work")
  private val checkDir = root.resolve("check")
  private var batch: DataFrame = _
  private var candRef: Long = 0L
  private val queryRef = scala.collection.mutable.Map.empty[String, Long]

  /** Build the base index from the corpus; returns seconds taken. */
  def buildIndex(): Double = {
    val t0 = System.nanoTime()
    deleteTree(baseIndex)
    val docs = spark.read.parquet(s"$data/documents.parquet").select(col("doc_id"), col("text"))
    new MinHashIndex(spark, baseIndex.toString).build(docs)
    (System.nanoTime() - t0) / 1e9
  }

  /** The seeded batch: a tenth of the corpus under fresh ids, built the
    * way tools/gen_sf.py builds the corpus, so it carries the corpus's
    * own duplicate rates: 0.2% exact copies and 4% near-copies (an
    * earlier document plus " dup") of a uniformly chosen earlier
    * document, the rest 10 to 100 tokens drawn uniformly from the
    * corpus's vocabulary. Also fixes the reference candidate digest: a
    * full rebuild over the appended corpus, which the incremental index
    * must equal.
    */
  def prepareBatch(): Unit = {
    val docs = spark.read.parquet(s"$data/documents.parquet").select(col("doc_id"), col("text"))
    val stored = docs.collect().map(r => r.getLong(0) -> r.getString(1))
    val vocab = stored.flatMap(_._2.split(" ")).distinct.sorted
    val r = new scala.util.Random(seed ^ 0x5eedL)
    val next = stored.map(_._1).max + 1
    val texts = scala.collection.mutable.ArrayBuffer.from(stored.map(_._2))
    val rows = (0 until math.max(1, stored.length / 10)).map { i =>
      val u = r.nextDouble()
      val text =
        if (u < ExactCopyShare) texts(r.nextInt(texts.length))
        else if (u < ExactCopyShare + NearCopyShare) texts(r.nextInt(texts.length)).stripTrailing + " dup"
        else Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length))).mkString(" ")
      texts += text
      (next + i, text)
    }
    import spark.implicits._
    // parquet, not a checkpoint: passes free every cached block
    val path = root.resolve("batch").toString
    rows.toDF("doc_id", "text").write.parquet(path)
    batch = spark.read.parquet(path)
    candRef = digest(Dedup.candidates(Dedup.minhashes(docs.unionByName(batch))))
  }

  /** The cold pass: every query once, its output written for the
    * oracle check; the digest of what was written is what each timed
    * pass must reproduce. Returns seconds taken by the queries.
    */
  def coldPass(): Double = {
    val t0 = System.nanoTime()
    for (q <- Queries) {
      SparkEntry.queries(q)(spark, data).write.parquet(checkDir.resolve(q).toString)
      freeState()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    for (q <- Queries) queryRef(q) = digest(spark.read.parquet(checkDir.resolve(q).toString))
    val oracle = Queries.map(q => s""""$q": "${Report.esc(SparkEntry.oracleSql(q))}"""")
    Files.write(checkDir.resolve("oracle_sql.json"), oracle.mkString("{", ",\n", "}").getBytes("UTF-8"))
    secs
  }

  /** Passes for about `seconds`, and at least two. A pass is
    * `IngestsPerPass` ingest steps (the writes), each from the restored
    * base index, then the query set (the read). Times are means, a
    * statistic whose meaning does not change with the number of passes
    * a run fits.
    */
  def run(seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val ingests = scala.collection.mutable.ArrayBuffer.empty[Double]
    val reads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val perQuery = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    val cpu0 = Host.processCpuNs()
    // another pass starts while at least half a typical pass fits
    // before the deadline, so runs measure about `seconds`
    def fits = System.nanoTime() + (IngestsPerPass * Stats.mean(ingests) + Stats.mean(reads)) * 0.5e9 < deadline
    while (reads.size < MinPasses || fits) {
      for (_ <- 1 to IngestsPerPass) {
        restoreBase()
        ingests += ingest()
      }
      var readS = 0.0
      for (q <- Queries) {
        val q0 = System.nanoTime()
        val d = tracer.request(s"query.$q")(digest(SparkEntry.queries(q)(spark, data)))
        val secs = (System.nanoTime() - q0) / 1e9
        readS += secs
        freeState()
        if (d == queryRef(q)) { perQuery(q) = perQuery(q) :+ secs; report.attempt(ok = true) }
        else report.fail(s"$q output digest $d differs from the checked ${queryRef(q)}")
      }
      reads += readS
    }
    report.note(s"pipeline passes: ingest ${ingests.mkString(", ")} s; queries ${reads.mkString(", ")} s")
    val busy = ingests.sum + reads.sum
    report.put("measured_s", busy, "s")
    report.put("passes", reads.size.toDouble, "count")
    report.put("ops_per_s", (ingests.size + reads.size) / busy, "1/s")
    report.put("read_ms", Stats.mean(reads) * 1e3, "ms")
    report.put("write_ms", Stats.mean(ingests) * 1e3, "ms")
    report.put("cpu_ms_per_op", (Host.processCpuNs() - cpu0) / 1e6 / (ingests.size + reads.size), "ms")
    report.put("batch_pass_s", busy / reads.size, "s")
    report.put("ingest_s", Stats.mean(ingests), "s")
    for (q <- Queries) report.put(s"query.${q}_s", if (perQuery(q).isEmpty) 0.0 else Stats.mean(perQuery(q)), "s")
    for (f <- Layers.Families)
      report.put(s"$f.pass_s", Queries.filter(family(_) == f).map(q => report.metrics(s"query.${q}_s")._1).sum, "s")
  }

  /** One ingest step; returns its seconds. */
  private def ingest(): Double = {
    val t0 = System.nanoTime()
    val before = Host.dirBytes(workIndex)
    var written = 0L
    val ok = tracer.request("index.ingest") {
      val idx = new MinHashIndex(spark, workIndex.toString)
      tracer.span("index.append")(idx.append(batch))
      written += math.max(0L, Host.dirBytes(workIndex) - before)
      val segs = Files.list(workIndex.resolve("seg")).count()
      report.put("index.segments_read", segs.toDouble, "count")
      val cand = tracer.span("index.candidates")(digest(idx.candidates()))
      val mid = Host.dirBytes(workIndex)
      tracer.span("index.compact")(idx.compact())
      written += math.max(0L, Host.dirBytes(workIndex) - mid)
      tracer.span("index.vacuum")(idx.vacuum(1))
      cand == candRef
    }
    val secs = (System.nanoTime() - t0) / 1e9
    report.put("index.bytes_written", written.toDouble, "bytes")
    if (ok) report.attempt(ok = true) else report.fail("ingest candidates differ from a full rebuild")
    secs
  }

  private def restoreBase(): Unit = {
    deleteTree(workIndex)
    val s = Files.walk(baseIndex)
    try s.forEach(p => Files.copy(p, workIndex.resolve(baseIndex.relativize(p))))
    finally s.close()
  }

  private def freeState(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))
  }
}

object Pipeline {
  /** Timed passes a run makes however long they take. */
  val MinPasses = 2
  /** An ingest step is short and jittery next to the query set: two
    * per pass double a run's write samples for a sixth more run time.
    */
  val IngestsPerPass = 2
  /** tools/gen_sf.py's duplicate rates for generated documents. */
  val ExactCopyShare = 0.002
  val NearCopyShare = 0.04

  /** The pass's queries: the ops, dedup, sim, text and graph modules,
    * including the open perf candidates q11, d07, d16 and g13. Sized so
    * a run, with its cold pass and oracle check, fits the benchmark's
    * time budget (s09 alone costs 10 s of oracle time per run).
    */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q11_percentiles", "e05_funnel", "d02_minhash_lsh",
    "d07_simhash_neighbors", "d16_fuzzy_names_ed2", "d18_containment", "s01_knn_bruteforce",
    "t06_tfidf", "g13_supplier_overlap")

  /** The graft module a query lives in. */
  def family(q: String): String = q.head match {
    case 'q' | 'e' => "ops"; case 'd' => "dedup"; case 's' => "sim"
    case 't' => "text"; case 'g' => "graph"
  }

  /** Order-independent digest of a frame's rows: the row count and the
    * sum of each row's 64-bit hash, computed in the same single job that
    * materialises it (`toRdd`, as graft.Bench counts).
    */
  def digest(df: DataFrame): Long = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L; var h = 0L
      it.foreach { r =>
        val u = proj(r)
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator(n * 0x9E3779B97F4A7C15L + h)
    }.fold(0L)(_ + _)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
