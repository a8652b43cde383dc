package graft.sim

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.floatNorm

/** Incrementally-maintained IVFADC code store — the FIFTH member of
  * the incremental-index family ([[graft.dedup.MinHashIndex]],
  * [[graft.dedup.GramIndex]], [[SignLshIndex]],
  * [[graft.text.WinnowIndex]]), and the persistence layer the s12
  * layout needs for a growing corpus: the registered s12 query
  * memoizes its k-means cells, residual-trained PQ codebooks, and
  * 4 B/vec code table per (session, corpus) — correct for a static
  * snapshot, but a daily embedding crawl would retrain the coarse
  * quantizer and re-encode ALL of history per ingest. This index
  * trains ONCE and thereafter appends only per-batch deltas.
  *
  * MODEL (frozen at [[build]], immutable for the index lifetime):
  *   - `model/cents` (cell, centroid): the trained coarse quantizer
  *     ([[Kmeans.fit]] over the build corpus);
  *   - `model/books` (m, code, centroid): the PQ codebooks trained on
  *     the build corpus' RESIDUALS ([[Pq.fit]] — the IVFADC layout,
  *     Jégou et al. 2011 §III);
  *   - `model/err`: the build corpus' mean squared ADC reconstruction
  *     error — the drift baseline (see [[reconstructionDrift]]).
  *
  * Freezing is the same trade [[SignLshIndex]] pins its (bits, tables)
  * family on: codes quantized under different codebooks cannot share
  * a code store, so every append encodes its delta under the build's
  * model, and the price is documented drift — as appended vectors
  * leave the build distribution, their residuals stop matching the
  * trained codebooks and the quantization error grows.
  * [[reconstructionDrift]] is the occupancy()-style signal: the
  * current corpus' pooled reconstruction error over the build
  * baseline, maintained from per-segment metadata (never a re-scan —
  * each batch's error is measured once, at ingest, while its floats
  * are in hand). Past ~2× the baseline, rebuild with a retrained
  * model, amortized across the ingests in between.
  *
  * SEGMENTS (one per build/append, provably disjoint by the
  * first-writer-wins anti-join, so multi-segment reads need no
  * distinct):
  *   - `seg/s<v>/cells` (vec_id, cell): coarse inverted-list
  *     assignment;
  *   - `seg/s<v>/codes` (vec_id, m, code): the 4 B/vec PQ codes;
  *   - `seg/s<v>/ids_bloom`: delta-sized vec_id bloom sidecar (per-
  *     append freshness reads are O(batch + bloom bytes), never a
  *     store-lifetime id scan);
  *   - `seg/s<v>/err`: "sumSqErr n" — the segment's exact decimal
  *     summed squared reconstruction error and row count.
  *
  * The index stores NO float vectors anywhere — that is the point of
  * the layout: [[adcTopK]] serves the ANN shortlist reading only the
  * code store, the cell assignment, and the frozen model (a few KB);
  * per-query work is the 64-entry LUT plus the probed cells' codes.
  * Versioning, crash behavior, [[compact]]/[[vacuum]] and
  * single-writer-per-dir are the shared [[graft.util.SegmentedIndex]]
  * lifecycle.
  *
  * Append==rebuild contract (PqIndexSpec): under the frozen model,
  * encoding is per-vector and deterministic ([[Kmeans.assign]] /
  * [[Pq.assign]] — broadcast model, map-side argmax), so chained
  * appends, one merged append, and a direct re-encode of the union
  * all yield bit-identical cells/codes tables, and a replayed batch
  * appends the empty delta.
  */
final class PqIndex(spark: SparkSession, indexDir: String)
    extends graft.util.SegmentedIndex(spark, indexDir) {
  private def modelRoot = new Path(snaps.dir, "model")

  /** The frozen coarse quantizer (cell, centroid). */
  def coarseCentroids(): DataFrame = {
    requireVersion(): Unit
    spark.read.parquet(new Path(modelRoot, "cents").toString)
  }

  /** The frozen residual PQ codebooks (m, code, centroid). */
  def codebooks(): DataFrame = {
    requireVersion(): Unit
    spark.read.parquet(new Path(modelRoot, "books").toString)
  }

  /** The number of coarse cells k, from the pinned params manifest. */
  def coarseK: Int =
    readText(manifestFile("params")).split("\\s+")(0).toInt

  /** The coarse inverted-list assignment: (vec_id, cell). */
  def cells(): DataFrame = readTable("cells")

  /** The (vec_id, cell) rows first ingested at version `v` — the
    * version's delta segment, an O(batch) read (the streaming replay
    * path's re-emission set, the [[graft.text.WinnowIndex.idsAddedAt]]
    * contract).
    */
  def cellsAddedAt(v: Long): DataFrame = addedAt(v, "cells")

  /** The 4 B/vec code store: (vec_id, m, code). */
  def codes(): DataFrame = readTable("codes")

  /** The subset of `ids` (a vec_id column) ALREADY ingested —
    * bloom-pruned first-writer-wins membership.
    */
  def knownIds(ids: DataFrame): DataFrame = known(ids, "vec_id", "cells", "ids_bloom")

  private def withNorm(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", floatNorm(col("embedding")))

  /** Encode `e` (vec_id, embedding, nrm) under the FROZEN model:
    * coarse-assign (broadcast centroids, map-side argmax), subtract
    * the cell centroid, PQ-assign the residual slices (broadcast
    * codebooks) — per-vector work, O(delta), no corpus access. Also
    * measures the delta's squared reconstruction error while the
    * floats are in hand: x̂ = c_cell + concat_m(books[m][code_m]), and
    * since the subspace slices partition the vector, ‖x − x̂‖² is the
    * sum of per-subspace ‖sv_m − books[m][code_m]‖².
    * Returns (cells, codes, "sumSqErr n").
    */
  private def encodeDelta(e: DataFrame, cents: DataFrame, books: DataFrame,
      k: Int): (DataFrame, DataFrame, String) = {
    val asg = Kmeans.assign(e, cents, k).localCheckpoint()
    val residuals = e.join(asg, Seq("vec_id"))
      .join(broadcast(cents), Seq("cell"))
      .select(col("vec_id"),
        expr("zip_with(embedding, centroid, (x, c) -> cast(x as double) - c)")
          .as("embedding"))
    val sl = Pq.sliced(residuals).localCheckpoint()
    val codes = Pq.assign(sl, books).localCheckpoint()
    val errRow = sl.join(codes, Seq("vec_id", "m"))
      .join(broadcast(books), Seq("m", "code"))
      .select(expr(
        """aggregate(zip_with(sv, centroid, (x, c) -> (x - c) * (x - c)),
           cast(0.0 as double), (acc, d) -> acc + d)""").as("sq"))
      .agg(graft.par.dsum(col("sq"), 9).as("s"), count(lit(1)).as("n"))
      .head()
    // an empty delta (pure replay) sums to NULL — record the zero stats
    val errLine =
      if (errRow.isNullAt(0)) "0 0"
      else s"${errRow.get(0)} ${errRow.getLong(1) / Pq.M}"
    (asg, codes, errLine)
  }

  /** Claim a version and write its delta segment (cells + codes
    * parquet, the delta-sized id bloom, the err stats), then publish it
    * with the coarse k in the manifest — segment first,
    * manifest+marker last, the shared crash contract.
    */
  private def writeDelta(cellsDf: DataFrame, codesDf: DataFrame,
      errLine: String, prevSegments: Seq[String], k: Int,
      tag: Option[String] = None): Long =
    publishSegment(prevSegments, tag, Seq("params" -> k.toString)) { seg =>
      writeBloomed(seg, "cells", cellsDf.select(col("vec_id"), col("cell")),
        "vec_id", "ids_bloom"): Unit
      writeTable(seg, "codes", codesDf.select(col("vec_id"), col("m"), col("code"))): Unit
      snaps.writeTextFile(segPath(seg.name, "err"), errLine)
    }

  /** Train the model on `vecs` (vec_id, embedding) and encode them —
    * the once-per-index materialization that freezes the coarse
    * quantizer and the residual codebooks. `k`/`iters` default to the
    * registered s10/s12 parameters, so an index built over a corpus
    * serves bit-exactly what the registered s12 computes on it. Returns
    * the published version.
    */
  def build(vecs: DataFrame, k: Int = 10, iters: Int = 3): Long = {
    val e = withNorm(vecs.dropDuplicates("vec_id")).persist()
    try {
      val cents = Kmeans.fit(e, k, iters)
      cents.select(col("cell"), col("centroid"))
        .write.mode("overwrite").parquet(new Path(modelRoot, "cents").toString)
      val storedCents = spark.read.parquet(new Path(modelRoot, "cents").toString)
      val asg = Kmeans.assign(e, storedCents, k).localCheckpoint()
      val residuals = e.join(asg, Seq("vec_id"))
        .join(broadcast(storedCents), Seq("cell"))
        .select(col("vec_id"),
          expr("zip_with(embedding, centroid, (x, c) -> cast(x as double) - c)")
            .as("embedding"))
      Pq.fit(residuals)
        .write.mode("overwrite").parquet(new Path(modelRoot, "books").toString)
      val storedBooks = spark.read.parquet(new Path(modelRoot, "books").toString)
      val (cellsDf, codesDf, errLine) = encodeDelta(e, storedCents, storedBooks, k)
      snaps.writeTextFile(new Path(modelRoot, "err"), errLine)
      writeDelta(cellsDf, codesDf, errLine, Seq.empty, k)
    } finally { e.unpersist(): Unit }
  }

  /** Delta refresh: encode only the id-FRESH vectors of the batch
    * under the frozen model, write their codes as one segment.
    * First-writer-wins per vec_id; replaying an overlapping batch
    * appends the empty delta — idempotent. Returns the published
    * version.
    */
  def append(newVecs: DataFrame, tag: Option[String] = None): Long = {
    val v = requireVersion()
    val k = coarseK
    val batch = newVecs.dropDuplicates("vec_id")
    val fresh = withNorm(batch
      .join(knownIds(batch.select(col("vec_id"))), Seq("vec_id"), "left_anti"))
      .persist()
    try {
      val (cellsDf, codesDf, errLine) =
        encodeDelta(fresh, coarseCentroids(), codebooks(), k)
      writeDelta(cellsDf, codesDf, errLine, segmentsOf(v), k, tag)
    } finally { fresh.unpersist(): Unit }
  }

  /** Pooled mean squared reconstruction error of the CURRENT corpus
    * over the build baseline — the model-staleness signal, computed
    * from per-segment metadata alone (no data scan). 1.0 at build; a
    * drifting crawl pushes it up as appended residuals stop matching
    * the frozen codebooks. Past ~2×, retrain (rebuild) — the same
    * envelope logic as [[SignLshIndex.occupancy]]'s [2, 4) band.
    * Segments ingested after a compaction fold into the pooled term
    * (compact sums the err stats), so the signal survives compaction.
    */
  def reconstructionDrift(): Double = {
    val base = readText(new Path(modelRoot, "err")).split("\\s+")
    val baseMse = base(0).toDouble / math.max(base(1).toLong, 1L)
    val pooled = errStats(segmentsOf(requireVersion()))
    val n = pooled.map(_._2).sum
    if (n == 0 || baseMse == 0.0) 1.0
    else (pooled.map(_._1).sum / n).toDouble / baseMse
  }

  /** The ADC score table (query_id, neighbor_id, cos) served from
    * STORAGE — the registered s12 plan re-rooted on the stored
    * cells/codes and the frozen model: per query, rank the coarse
    * cells by cosine (broadcast k-row centroid table), keep `nprobe`,
    * build the M·K-entry residual LUT (broadcast), then score ONLY
    * the probed cells' codes: one vec_id-keyed hash join
    * (codes × cells), a broadcast semi-filter to the probe set, a
    * broadcast LUT join, and a map-side-combining partial sum —
    * ⟨q, x⟩ ≈ ⟨q, c_cell⟩ + Σ_m lut[m][code_m(x)], decimal-summed so
    * the score is bit-identical to the registered s12's. No float
    * hydration of the corpus — the store has no floats to hydrate.
    * `queries`: (vec_id, embedding).
    */
  def adcScores(queries: DataFrame, nprobe: Int = 3): DataFrame = {
    val cents = coarseCentroids()
    val q = withNorm(queries.dropDuplicates("vec_id"))
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
        col("nrm").as("nq"))
    val probes = broadcast(q).crossJoin(broadcast(cents))
      .withColumn("ccos", expr(Cosine.dotSpark("eq", "centroid")) /
        (col("nq") * expr(Cosine.normSpark("centroid"))))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cell"))))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("cell"))
    val qc = broadcast(q).join(broadcast(probes), Seq("query_id"))
      .join(broadcast(cents), Seq("cell"))
      .select(col("query_id"), col("cell"),
        expr(Cosine.dotSpark("eq", "centroid")).as("qc"))
    val qs = Pq.sliced(q.select(col("query_id").as("vec_id"), col("eq").as("embedding")))
      .toDF("query_id", "m", "qsv")
    val lut = broadcast(qs).join(broadcast(codebooks()), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        expr(Cosine.dotSpark("qsv", "centroid")).as("pdot"))
    codes().toDF("neighbor_id", "m", "code")
      .join(cells().toDF("neighbor_id", "cell"), Seq("neighbor_id"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("neighbor_id"), col("cell"))
      .agg(graft.par.dsum(col("pdot"), 9).as("rsum"))
      .join(broadcast(qc), Seq("query_id", "cell"))
      .select(col("query_id"), col("neighbor_id"),
        (col("qc") + col("rsum")).as("cos"))
  }

  /** The per-query ADC top-k shortlist (query_id, neighbor_id, adc,
    * rank) — the registered s12 output shape, bit-exact with it when
    * the index was built over the same corpus (PqIndexSpec pins it).
    */
  def adcTopK(queries: DataFrame, topk: Int = 5, nprobe: Int = 3): DataFrame =
    Similarity.topkUnordered(adcScores(queries, nprobe), topk)
      .select(col("query_id"), col("neighbor_id"), col("cos").as("adc"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))

  /** Merge the current version's segments into ONE (model untouched —
    * compaction never retrains) and publish as a new version; the
    * amortized bound on per-append sidecar/footer reads. Err stats sum
    * (exact decimal strings), so [[reconstructionDrift]] is unchanged
    * by compaction. Old segments are retired by [[vacuum]].
    */
  def compact(): Long = {
    val summed = errStats(segmentsOf(requireVersion()))
    val errLine = s"${summed.map(_._1).sum} ${summed.map(_._2).sum}"
    writeDelta(cells(), codes(), errLine, Seq.empty, coarseK)
  }

  /** Per-segment (summed squared error, row count) from `err` files. */
  private def errStats(segs: Seq[String]): Seq[(BigDecimal, Long)] =
    segs.map(s => readText(segPath(s, "err")).split("\\s+"))
      .map(p => (BigDecimal(p(0)), p(1).toLong))
}
