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
  * Tables:
  *  - `census` (bigram, c), sidecar `census_bloom` — occurrences of
  *    each adjacent token pair across the corpus token stream
  *    ([[TextOps.bigramStream]], the same extraction t20 registers);
  *  - `lefts` (w1, c), sidecar `lefts_bloom` — occurrences of each
  *    token as LEFT context (= Σ census over its continuations),
  *    stored pre-aggregated per segment because the left-context probe
  *    keys by w1: a bigram-keyed bloom cannot prune a w1 probe;
  *  - `docs` (doc_id), sidecar `docs_bloom` — the identity table.
  * `census` and `lefts` are ADDITIVE over segments ([[summed]]). Counts
  * are occurrences, so a document must be ingested exactly once: an
  * append tokenizes only its [[fresh]] docs, and a replayed batch
  * appends the empty delta. A batch's own keys always claim its own
  * segment, so every probed ratio has c ≥ 1 (the self-inclusive census
  * t20's self-scoring defines; no smoothing needed).
  *
  * Drift note: the census is FROZEN history — an earlier doc's score
  * is never revised when later crawls shift the distribution (the
  * crawlDedup arrival-time rule). The trajectory of per-batch mean
  * surprise over versions IS the domain-drift signal
  * (StreamingSpec exercises it through [[graft.streaming.StreamOps.lmScoreStream]]).
  */
final class BigramLmIndex(spark: SparkSession, indexDir: String)
    extends SegmentedIndex(spark, indexDir, "doc_id", "docs", "docs_bloom") {

  /** The corpus-lifetime bigram census: (bigram, c) summed over segments. */
  def census(): DataFrame = summed(segmentsOf(requireVersion()), "census", "bigram", "c")

  /** The corpus-lifetime left-context marginal: (w1, c). */
  def lefts(): DataFrame = summed(segmentsOf(requireVersion()), "lefts", "w1", "c")

  /** (bigram, c) as of version `v` — INCLUDING v's own delta (the
    * self-inclusive census scoring reads) — restricted to the probe
    * bigrams.
    */
  def censusAtFor(v: Long, bigrams: DataFrame): DataFrame =
    summed(segmentsOf(v), "census", "bigram", "c", Some(bigrams))

  /** (w1, c) as of version `v`, restricted to the probe left tokens. */
  def leftsAtFor(v: Long, w1s: DataFrame): DataFrame =
    summed(segmentsOf(v), "lefts", "w1", "c", Some(w1s))

  /** Claim a version and publish its delta segment: census + lefts +
    * ids, each with its bloom.
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
      writeIdentity(seg, docIds.select(col("doc_id"))): Unit
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
    val f = fresh(newDocs).localCheckpoint()
    appendBigrams(f, TextOps.bigramStream(f), tag)
  }

  /** [[append]] with tokenization already done, so the streaming
    * driver tokenizes the fresh docs ONCE: `big` MUST be
    * `TextOps.bigramStream(fresh)` for `fresh` == [[fresh]] of the
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
