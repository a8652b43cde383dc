package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.floatNorm

/** Incrementally-maintained sign-LSH / ANN index — the similarity-side
  * analog of [[graft.dedup.MinHashIndex]], and the operator a daily
  * embedding crawl actually runs: when new vectors are APPENDED to a
  * corpus, refresh the signature index and the vector store without
  * ever re-signaturing the old corpus (the registered s06/d12 index is
  * session-memoized per corpus — correct for a static snapshot, but a
  * growing corpus would rebuild the full (vec_id, tsig) table per
  * ingest).
  *
  * Maintains two logical tables:
  *
  *   - `vec` (vec_id, embedding, nrm, qv, qn2): the vector store —
  *     norms precomputed at ingest (the exact re-rank's
  *     denominators), plus the int8 quantized form (`qv` binary,
  *     `qn2` integer squared norm) so the QUANTIZED re-rank
  *     ([[annGraphQuantized]] — the s09 composition, 2.81× less
  *     exchange measured at sf3) serves straight from storage.
  *     Quantization is per-vector and runs once, at ingest, on the
  *     delta only;
  *   - `sig` (vec_id, tsig): the sign-LSH signature index over the
  *     calibrated family, `tsig = table · 2^bits + signature` — the
  *     same combined key the bucketed candidate path
  *     ([[Similarity.signCandidatesBucketed]]) joins on.
  *
  * The (bits, tables) family is CALIBRATED ONCE at [[build]] from the
  * initial corpus ([[Similarity.annParamsFor]] — the measured-anchor
  * map, or the retention-probe solver past 2^17 rows) and PINNED: every
  * append signs its delta with the same family, because signatures
  * from different families cannot share an index. The trade is
  * documented occupancy drift — per-bucket occupancy n/2^bits grows
  * with the corpus, and when it leaves the calibrated [2, 4) band the
  * candidate volume grows superlinearly ([[occupancy]] reports it;
  * past ~4× the build-time corpus, re-build with the re-calibrated
  * family — the same envelope logic as the registered query's
  * per-corpus calibration, amortized across the ingests in between).
  *
  * Identity table: `vec` keyed by `vec_id` (sidecar `ids_bloom`); each
  * append writes the delta SEGMENT `seg/s<k>/{vec,sig}` of its
  * [[fresh]] vectors, and the manifest pins `params` and `format`.
  * One row per vec_id matters beyond idempotence: two stored rows for
  * one id would multiply annGraph's hydration joins and could seat the
  * same neighbor twice in a query's top-3.
  *
  * [[annGraph]] serves the top-3 ANN graph straight off the stored
  * tables: probe signatures derive from the STORED `tsig` by bit
  * arithmetic (no embedding access until the exact re-rank), the
  * candidate self-join shuffles the narrow (vec_id, tsig) stream on
  * tsig, and only surviving distinct pairs hydrate vectors. Nothing
  * is broadcast and nothing is driver-sized, so the plan holds at any
  * index size; chained appends yield the bit-exact graph a full
  * rebuild would (SignLshIndexSpec).
  */
final class SignLshIndex(spark: SparkSession, indexDir: String)
    extends graft.util.SegmentedIndex(spark, indexDir, "vec_id", "vec", "ids_bloom") {

  /** Segment-layout format this code writes: 2 = vec segments carry
    * the int8 quantized form (qv, qn2). Pre-quantization indexes (no
    * `format` file in the manifest) read back as 1.
    */
  val CurrentFormat = 2

  /** The served version's segment-layout format. A version with no
    * `format` manifest file was written before the quantized columns
    * existed — its vec segments have no qv/qn2, and MIXING it with
    * format-2 segments would make `spark.read.parquet` either fail to
    * resolve qv or silently NULL it (scoring those vectors with the
    * -2.0 sentinel — a wrong graph, not an error). [[append]] and
    * [[annGraphQuantized]] therefore refuse on format 1;
    * [[compact]] is the upgrade path (backfill-quantize + restamp).
    */
  def formatVersion: Int = {
    val p = manifestFile("format")
    if (fs.exists(p)) readText(p).toInt else 1
  }

  private def requireFormat(what: String): Unit = {
    val f = formatVersion
    if (f != CurrentFormat) throw new IllegalStateException(
      s"index at $indexDir has segment format $f (pre-quantization layout, " +
        s"no qv/qn2 in vec segments); $what needs format $CurrentFormat — " +
        "run compact() once to backfill-quantize and upgrade in place")
  }

  /** The pinned (bits, tables) family, fixed at [[build]]. */
  def params: (Int, Int) = {
    val parts = readText(manifestFile("params")).split("\\s+")
    (parts(0).toInt, parts(1).toInt)
  }

  /** The vector store: (vec_id, embedding, nrm). */
  def vectors(): DataFrame = readTable("vec")

  /** The signature index: (vec_id, tsig). */
  def signatures(): DataFrame = readTable("sig")

  private def withNorm(vecs: DataFrame): DataFrame = {
    import graft.functions.Int8Functions.{int8NormSq, int8Quantize}
    vecs.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", floatNorm(col("embedding")))
      .withColumn("qv", int8Quantize(col("embedding")))
      .withColumn("qn2", int8NormSq(col("qv")))
  }

  /** (vec_id, tsig) rows of `e` under family (bits, tables). */
  private def sigOf(e: DataFrame, bits: Int, tables: Int): DataFrame = {
    val p2 = 1L << bits
    val sigArray = Similarity.sigArrayExpr(
      Similarity.scaledDimGroups(bits, tables))
    e.select(col("vec_id"), explode(sigArray).as("ts"))
      .select(col("vec_id"),
        (col("ts.t").cast("long") * p2 + col("ts.sig")).as("tsig"))
  }

  /** Claim a version and write its delta segment (vec + sig parquet
    * plus the delta-sized vec_id bloom sidecar), then publish it as the
    * previous segments plus it, with the pinned family and the segment
    * format in the manifest.
    */
  private def writeDelta(vec: DataFrame, sig: DataFrame,
      prevSegments: Seq[String], paramsLine: String): Long =
    publishSegment(prevSegments,
        extra = Seq("params" -> paramsLine, "format" -> CurrentFormat.toString)) { seg =>
      writeIdentity(seg, vec): Unit
      writeTable(seg, "sig", sig): Unit
    }

  /** Full build from a corpus (vecs: vec_id, embedding) —
    * initialization; calibrates and pins the family from this corpus'
    * size. Duplicate ids collapse as in [[fresh]]. Returns the
    * published version.
    */
  def build(vecs: DataFrame): Long = {
    val e = withNorm(vecs.dropDuplicates(idKey)).persist()
    try {
      // shared family resolution: the measured-anchor map below
      // 2^17 rows, the retention-probe solver past it — a corpus the
      // map has no anchor for must not be pinned to the capped
      // (16, 192) family for its whole index lifetime
      val (bits, tables) = Similarity.annParamsFor(e, e.count())
      writeDelta(e, sigOf(e, bits, tables), Seq.empty, s"$bits $tables")
    } finally e.unpersist()
  }

  /** Delta refresh for appended vectors: norm + sign the [[fresh]]
    * vectors only under the pinned family — the only corpus-shaped work
    * is linear in the delta, and only the delta segment is written.
    * Returns the published version.
    */
  def append(newVecs: DataFrame): Long = {
    val v = requireVersion()
    // an append carries the old segments forward into the new manifest,
    // so appending format-2 deltas onto format-1 segments is exactly the
    // mixed-schema read the format guard exists to prevent
    requireFormat("append")
    val (bits, tables) = params
    val delta = withNorm(fresh(newVecs)).persist()
    try writeDelta(delta, sigOf(delta, bits, tables), segmentsOf(v),
      s"$bits $tables")
    finally delta.unpersist()
  }

  /** Merge the current version's segments into ONE and publish it as
    * a new version (family pinned unchanged). Read-equality is free —
    * segments are disjoint, so the merged vec/sig tables are exactly
    * the union the old manifest served. O(corpus) rewrite, amortized:
    * per-append segments are what grow sidecar/footer reads and
    * bloom-probe width per trigger; a periodic compact bounds them.
    * Old segments are retired by [[vacuum]].
    *
    * @return the published compaction version
    */
  def compact(): Long = {
    val (bits, tables) = params
    // No pin: vectors()/signatures() are plain parquet reads over the
    // old segments, which stay on disk until a LATER vacuum() retires
    // them. A localCheckpoint here would copy
    // the FULL store into executor memory/disk first, doubling the
    // compaction's peak footprint for no correctness gain.
    //
    // Format upgrade rides along for free: a format-1 index (vec
    // segments without qv/qn2) is backfill-quantized here — per-vector
    // ingest work the old layout skipped, paid once — and the rewritten
    // single segment publishes under CurrentFormat, unblocking append()
    // and annGraphQuantized().
    val vec =
      if (formatVersion >= CurrentFormat) vectors()
      else {
        import graft.functions.Int8Functions.{int8NormSq, int8Quantize}
        vectors()
          .withColumn("qv", int8Quantize(col("embedding")))
          .withColumn("qn2", int8NormSq(col("qv")))
      }
    writeDelta(vec, signatures(), Seq.empty, s"$bits $tables")
  }

  /** Per-bucket occupancy n / 2^bits of the CURRENT corpus against the
    * pinned family — the calibration band is [2, 4); past ~4× build
    * size, rebuild with a recalibrated family.
    */
  def occupancy(): Double = {
    val (bits, _) = params
    vectors().count().toDouble / (1L << bits)
  }

  /** The top-3 ANN KNN graph served from the stored tables — bit-exact
    * with [[Similarity.annGraphBroadcast]] on the same corpus and family.
    *
    * Probe signatures derive from the STORED tsig (sig = low `bits`,
    * table = high bits), so candidate generation touches only the
    * narrow (vec_id, tsig) index — the old corpus is never re-signed.
    * The candidate join and the exact re-rank are the SHARED
    * strategy-pinned pipeline ([[Similarity.candidatePairsCanonical]]
    * / [[Similarity.rerankTop3From]]): SHUFFLE_HASH on every join, so
    * the plan cannot broadcast the exploded probe stream off its
    * column-pruned size estimate (the 8 GiB death measured at sf3)
    * nor sort-merge the wide pair+embedding stream (the ~90 GB spill
    * measured alongside it). Nothing broadcast, nothing driver-sized,
    * no sort of any corpus-sized stream — the index-size-independent
    * shape, asserted under a default session config by
    * SignLshIndexSpec.
    */
  def annGraph(): DataFrame =
    Similarity.rerankTop3From(vectors(), storedCandidates())

  /** The top-3 graph re-ranked by the STORED int8 form instead of the
    * float vectors — [[annGraph]]'s scale variant and the index-served
    * s09 composition: identical candidate stream (same stored tsig,
    * same shared strategy-pinned pipeline), but the wide pair+vector
    * hydration exchange carries 72 B of vector payload per row instead
    * of ~280 B (measured at sf3: 22.90 GB vs 64.33 GB per refresh,
    * 2.81× — docs/SCALE_EVIDENCE_r12.md). The integer scores are the
    * registered s08/s09 arithmetic: exactly symmetric under operand
    * swap, bit-reproducible on any partitioning. The lossy-code price
    * (int8 on top of LSH) is s09's measured recall@3 0.86–0.88,
    * spec-gated ≥ 0.8.
    */
  def annGraphQuantized(): DataFrame = {
    requireFormat("annGraphQuantized")
    Similarity.rerankTop3QuantizedFrom(
      vectors().select(col("vec_id"), col("qv"), col("qn2")),
      storedCandidates())
  }

  /** CANONICAL candidate pairs from the stored signature index —
    * probe signatures derive from the stored tsig by bit arithmetic
    * (no embedding access), shared by both serve paths.
    */
  private def storedCandidates(): DataFrame = {
    val (bits, _) = params
    val low = (1L << bits) - 1
    val masks = Similarity.scaledProbeMasks(bits)
    val sig = signatures()
    val probes = sig
      .select(col("vec_id").as("query_id"), col("tsig"),
        explode(array(masks.map(m => lit(m.toLong)): _*)).as("m"))
      .select(col("query_id"),
        (col("tsig").bitwiseAND(lit(~low)) +
          col("tsig").bitwiseAND(lit(low)).bitwiseXOR(col("m"))).as("tsig"))
    Similarity.candidatePairsCanonical(probes,
      sig.select(col("vec_id").as("neighbor_id"), col("tsig")))
  }
}
