package graft.sim

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
  * MODEL (trained at [[build]], frozen until the next build), tables
  * of the version's FIRST segment, which [[compact]] copies and
  * appends carry forward:
  *   - `cents` (cell, centroid): the trained coarse quantizer
  *     ([[Kmeans.fit]] over the build corpus);
  *   - `books` (m, code, centroid): the PQ codebooks trained on the
  *     build corpus' RESIDUALS ([[Pq.fit]] — the IVFADC layout, Jégou
  *     et al. 2011 §III);
  *   - the `params` manifest: "k sumSqErr n", the coarse k and the
  *     build corpus' summed squared ADC reconstruction error — the
  *     drift baseline (see [[reconstructionDrift]]).
  * A rebuild trains its model before it claims a version, so the
  * served version keeps its own model until the rebuild publishes.
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
  * SEGMENT tables (one segment per build/append/compaction):
  *   - `cells` (vec_id, cell), the identity table (sidecar
  *     `ids_bloom`): coarse inverted-list assignment;
  *   - `codes` (vec_id, m, code): the 4 B/vec PQ codes;
  *   - `err`: "sumSqErr n" — the segment's exact decimal summed
  *     squared reconstruction error and row count.
  *
  * The index stores NO float vectors anywhere — that is the point of
  * the layout: [[adcTopK]] serves the ANN shortlist reading only the
  * code store, the cell assignment, and the frozen model (a few KB);
  * per-query work is the 64-entry LUT plus the probed cells' codes.
  *
  * Append==rebuild contract (PqIndexSpec): under the frozen model,
  * encoding is per-vector and deterministic ([[Kmeans.assign]] /
  * [[Pq.assign]] — broadcast model, map-side argmax), so chained
  * appends, one merged append, and a direct re-encode of the union
  * all yield bit-identical cells/codes tables, and a replayed batch
  * appends the empty delta.
  */
final class PqIndex(spark: SparkSession, indexDir: String)
    extends graft.util.SegmentedIndex(spark, indexDir, "vec_id", "cells", "ids_bloom") {

  /** Model table `table` of the newest complete version: a table of
    * its first segment.
    */
  private def modelTable(table: String): DataFrame =
    readSegments(segmentsOf(requireVersion()).take(1), table)

  /** The frozen coarse quantizer (cell, centroid). */
  def coarseCentroids(): DataFrame = modelTable("cents")

  /** The frozen residual PQ codebooks (m, code, centroid). */
  def codebooks(): DataFrame = modelTable("books")

  /** The pinned `params` manifest: "k sumSqErr n". */
  private def params: Array[String] = readText(manifestFile("params")).split("\\s+")

  /** The number of coarse cells k, from the pinned params manifest. */
  def coarseK: Int = params(0).toInt

  /** The coarse inverted-list assignment: (vec_id, cell). */
  def cells(): DataFrame = readTable("cells")

  /** The (vec_id, cell) rows first ingested at version `v` — the
    * version's delta segment, an O(batch) read (the streaming replay
    * path's re-emission set).
    */
  def cellsAddedAt(v: Long): DataFrame = addedAt(v, "cells")

  /** The 4 B/vec code store: (vec_id, m, code). */
  def codes(): DataFrame = readTable("codes")

  private def withNorm(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", floatNorm(col("embedding")))

  /** The one residual step: `e`'s (vec_id, embedding, nrm) coarse
    * assignment under `cents` (broadcast centroids, map-side argmax),
    * checkpointed, and its residuals x − c_cell (vec_id, embedding) —
    * what [[build]] trains the codebooks on and what every build and
    * append encodes.
    */
  private def residuals(e: DataFrame, cents: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val asg = Kmeans.assign(e, cents, k).localCheckpoint()
    (asg, e.join(asg, Seq("vec_id"))
      .join(broadcast(cents), Seq("cell"))
      .select(col("vec_id"),
        expr("zip_with(embedding, centroid, (x, c) -> cast(x as double) - c)")
          .as("embedding")))
  }

  /** PQ-encode residuals `res` under `books` (broadcast codebooks) —
    * per-vector work, O(delta), no corpus access. Also measures the
    * delta's squared reconstruction error while the floats are in
    * hand: x̂ = c_cell + concat_m(books[m][code_m]), and since the
    * subspace slices partition the vector, ‖x − x̂‖² is the sum of
    * per-subspace ‖sv_m − books[m][code_m]‖². Returns (codes,
    * "sumSqErr n").
    */
  private def encode(res: DataFrame, books: DataFrame): (DataFrame, String) = {
    val sl = Pq.sliced(res).localCheckpoint()
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
    (codes, errLine)
  }

  /** Claim a version and publish its delta segment: cells (with the id
    * bloom) + codes + the err stats, plus the `model` (cents, books)
    * when the segment is a version's first, with `params` in the
    * manifest.
    */
  private def writeDelta(cellsDf: DataFrame, codesDf: DataFrame, errLine: String,
      prevSegments: Seq[String], paramsLine: String,
      model: Option[(DataFrame, DataFrame)], tag: Option[String] = None): Long =
    publishSegment(prevSegments, tag, Seq("params" -> paramsLine)) { seg =>
      writeIdentity(seg, cellsDf.select(col("vec_id"), col("cell"))): Unit
      writeTable(seg, "codes", codesDf.select(col("vec_id"), col("m"), col("code"))): Unit
      model.foreach { case (cents, books) =>
        writeTable(seg, "cents", cents.select(col("cell"), col("centroid"))): Unit
        writeTable(seg, "books", books.select(col("m"), col("code"), col("centroid"))): Unit
      }
      snaps.writeTextFile(segPath(seg.name, "err"), errLine)
    }

  /** Train the model on `vecs` (vec_id, embedding) and encode them —
    * the once-per-index materialization that freezes the coarse
    * quantizer and the residual codebooks. Duplicate ids collapse as
    * in [[fresh]]. `k`/`iters` default to the registered s10/s12
    * parameters, so an index built over a corpus serves bit-exactly
    * what the registered s12 computes on it. Returns the published
    * version.
    */
  def build(vecs: DataFrame, k: Int = 10, iters: Int = 3): Long = {
    val e = withNorm(vecs.dropDuplicates(idKey)).persist()
    try {
      val cents = Kmeans.fit(e, k, iters)
      val (asg, r) = residuals(e, cents, k)
      // read three times: by the training's slicing and seeding, and by the encode
      val res = r.localCheckpoint()
      val books = Pq.fit(res)
      val (codesDf, errLine) = encode(res, books)
      writeDelta(asg, codesDf, errLine, Seq.empty, s"$k $errLine", Some((cents, books)))
    } finally { e.unpersist(): Unit }
  }

  /** Delta refresh: encode only the [[fresh]] vectors of the batch
    * under the frozen model, write their codes as one segment after
    * the version's segments. Returns the published version.
    */
  def append(newVecs: DataFrame, tag: Option[String] = None): Long = {
    val segs = segmentsOf(requireVersion())
    val delta = withNorm(fresh(newVecs)).persist()
    try {
      val (asg, res) = residuals(delta, coarseCentroids(), coarseK)
      val (codesDf, errLine) = encode(res, codebooks())
      writeDelta(asg, codesDf, errLine, segs, params.mkString(" "), None, tag)
    } finally { delta.unpersist(): Unit }
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
    val p = params
    val baseMse = p(1).toDouble / math.max(p(2).toLong, 1L)
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

  /** Merge the current version's segments into ONE, the model copied
    * unchanged (compaction never retrains), and publish as a new
    * version; the amortized bound on per-append sidecar/footer reads.
    * Err stats sum (exact decimal strings), so [[reconstructionDrift]]
    * is unchanged by compaction. Old segments are retired by
    * [[vacuum]].
    */
  def compact(): Long = {
    val segErr = errStats(segmentsOf(requireVersion()))
    val errLine = s"${segErr.map(_._1).sum} ${segErr.map(_._2).sum}"
    writeDelta(cells(), codes(), errLine, Seq.empty, params.mkString(" "),
      Some((coarseCentroids(), codebooks())))
  }

  /** Per-segment (summed squared error, row count) from `err` files. */
  private def errStats(segs: Seq[String]): Seq[(BigDecimal, Long)] =
    segs.map(s => readText(segPath(s, "err")).split("\\s+"))
      .map(p => (BigDecimal(p(0)), p(1).toLong))
}
