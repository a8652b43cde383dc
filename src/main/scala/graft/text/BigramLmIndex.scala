package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.SegmentedIndex

/** Incrementally-maintained bigram language-model census — the SIXTH
  * member of the incremental-index family ([[graft.dedup.MinHashIndex]]:
  * near-dup candidates, [[graft.dedup.GramIndex]]: decontamination
  * grams, [[graft.sim.SignLshIndex]]: ANN, [[WinnowIndex]]: span
  * census, [[graft.sim.PqIndex]]: IVFADC codes), and the store a
  * production crawl keeps to run t20's coherence scoring at ingest
  * without re-tokenizing history: the corpus bigram census and its
  * left-context marginal are materialized once, then APPENDED per
  * crawl batch — only the batch's documents are ever tokenized.
  *
  * Two logical tables, both ADDITIVE over segments (the WinnowIndex
  * census rule — no cross-segment dedup, the corpus count is the
  * per-key SUM):
  *  - `census` (bigram, c)  — occurrences of each adjacent token pair
  *    across the corpus token stream ([[TextOps.bigramStream]], the
  *    same extraction t20 registers);
  *  - `lefts`  (w1, c)      — occurrences of each token as LEFT
  *    context (= Σ census over its continuations), stored
  *    pre-aggregated per segment because the left-context probe keys
  *    by w1: a bigram-keyed bloom cannot prune a w1 probe, and
  *    deriving c(w1·) at probe time would need EVERY segment's census
  *    rows for that w1, not just the probed bigrams'.
  * Counts are occurrences, so a document must be ingested exactly
  * once: appends are restricted to id-FRESH docs (per-segment doc_id
  * tables + blooms, the family's first-writer-wins rule) and a
  * replayed batch appends the empty delta.
  *
  * WRITES are O(batch): one delta segment (census + lefts + ids,
  * Heaps'-bounded in the batch) + three delta-sized blooms + a tiny
  * manifest. The scoring probes ([[censusAtFor]]/[[leftsAtFor]]) are
  * bloom-pruned partial sums: the per-key sum over the claiming
  * segments is the complete count, and only their parquet is opened.
  * A batch's own keys always claim its own segment, so every probed
  * ratio has c ≥ 1 (the self-inclusive census t20's self-scoring
  * defines; no smoothing needed).
  *
  * Drift note: the census is FROZEN history — an earlier doc's score
  * is never revised when later crawls shift the distribution (the
  * crawlDedup arrival-time rule). The trajectory of per-batch mean
  * surprise over versions IS the domain-drift signal
  * (StreamingSpec exercises it through [[graft.streaming.StreamOps.lmScoreStream]]).
  *
  * Versioning, crash behavior, [[compact]]/[[vacuum]], and the tag
  * journal are the shared [[graft.util.SegmentedIndex]] lifecycle of
  * the five sibling indexes. Single writer per index dir.
  */
final class BigramLmIndex(spark: SparkSession, indexDir: String)
    extends SegmentedIndex(spark, indexDir) {

  private def emptyCounts(key: String): DataFrame =
    spark.range(0).select(col("id").cast("string").as(key), col("id").as("c"))

  private def countsOf(segs: Seq[String], table: String, key: String): DataFrame =
    if (segs.isEmpty) emptyCounts(key)
    else readSegments(segs, table)
      .groupBy(col(key)).agg(sum(col("c")).as("c"))

  /** The corpus-lifetime bigram census: (bigram, c) summed over segments. */
  def census(): DataFrame = countsOf(segmentsOf(requireVersion()), "census", "bigram")

  /** The corpus-lifetime left-context marginal: (w1, c). */
  def lefts(): DataFrame = countsOf(segmentsOf(requireVersion()), "lefts", "w1")

  /** Bloom-pruned partial-sum probe of `table` (keyed by `key`) as of
    * version `v` — INCLUDING v's own delta (the self-inclusive census
    * scoring reads). Complete per key: non-claiming segments hold none
    * of the keys.
    */
  private def countsAtFor(v: Long, table: String, key: String,
      keys: DataFrame): DataFrame =
    probe(segmentsOf(v), table, s"${table}_bloom", keys, key)
      .fold(emptyCounts(key))(_.groupBy(col(key)).agg(sum(col("c")).as("c")))

  /** (bigram, c) as of version `v`, restricted to the probe bigrams. */
  def censusAtFor(v: Long, bigrams: DataFrame): DataFrame =
    countsAtFor(v, "census", "bigram", bigrams)

  /** (w1, c) as of version `v`, restricted to the probe left tokens. */
  def leftsAtFor(v: Long, w1s: DataFrame): DataFrame =
    countsAtFor(v, "lefts", "w1", w1s)

  /** The doc_ids first ingested at version `v` — the version's delta
    * segment, an O(batch) read (the replay path's fresh set).
    */
  def idsAddedAt(v: Long): DataFrame = addedAt(v, "docs")

  /** The subset of `ids` ALREADY ingested — bloom-pruned
    * first-writer-wins membership.
    */
  def knownDocs(ids: DataFrame): DataFrame = known(ids, "doc_id", "docs", "docs_bloom")

  /** The id-FRESH subset of `newDocs` (duplicate ids collapsed, then
    * already-ingested ids dropped) — [[append]]'s freshness rule,
    * factored out so the streaming driver can tokenize the fresh docs
    * ONCE and share the bigram stream with [[appendBigrams]].
    */
  def freshDocs(newDocs: DataFrame): DataFrame = {
    val b = newDocs.dropDuplicates("doc_id")
    b.join(knownDocs(b.select(col("doc_id"))), Seq("doc_id"), "left_anti")
  }

  /** Claim a version and write its delta segment (census + lefts +
    * ids, each with its bloom), then publish it — segment first,
    * manifest+marker last, the crash contract.
    */
  private def writeDelta(census: DataFrame, docIds: DataFrame,
      prevSegments: Seq[String], tag: Option[String] = None): Long =
    publishSegment(prevSegments, tag) { seg =>
      // lefts derive from the WRITTEN census parquet — stable storage, so
      // the (possibly expensive) delta plan evaluates exactly once
      val (wc, _) = writeBloomed(seg, "census", census.select(col("bigram"), col("c")),
        "bigram", "census_bloom")
      writeBloomed(seg, "lefts", wc
        .groupBy(expr("split_part(bigram, ' ', 1)").as("w1"))
        .agg(sum(col("c")).as("c")), "w1", "lefts_bloom"): Unit
      writeBloomed(seg, "docs", docIds.select(col("doc_id")), "doc_id", "docs_bloom"): Unit
    }

  private def censusFromBigrams(big: DataFrame): DataFrame =
    big.groupBy(col("bigram")).agg(count(lit(1)).as("c"))

  /** Full build from a corpus (docs: doc_id, text). Returns the
    * published version.
    */
  def build(docs: DataFrame): Long = {
    val b = docs.dropDuplicates("doc_id").localCheckpoint()
    writeDelta(censusFromBigrams(TextOps.bigramStream(b)),
      b.select(col("doc_id")), Seq.empty)
  }

  /** Delta refresh: tokenize only the id-FRESH documents, append their
    * census delta + ids as one segment. A replayed batch appends the
    * empty delta — no occurrence ever double-counts. Returns the
    * published version.
    */
  def append(newDocs: DataFrame, tag: Option[String] = None): Long = {
    val fresh = freshDocs(newDocs).localCheckpoint()
    appendBigrams(fresh, TextOps.bigramStream(fresh), tag)
  }

  /** [[append]] with tokenization already done: `big` MUST be
    * `TextOps.bigramStream(fresh)` for `fresh` == [[freshDocs]] of the
    * batch (package-private; the census is still derived here, so a
    * caller can only hand in mismatched streams, not a forged census).
    */
  private[graft] def appendBigrams(fresh: DataFrame, big: DataFrame,
      tag: Option[String] = None): Long =
    writeDelta(censusFromBigrams(big), fresh.select(col("doc_id")),
      segmentsOf(requireVersion()), tag)

  /** Merge the current segments into ONE (pre-summed census + disjoint
    * id union) and publish as a new version.
    */
  def compact(): Long =
    writeDelta(census(), readTable("docs"), Seq.empty)
}
