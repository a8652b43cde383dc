package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.SegmentedIndex

/** Incrementally-maintained duplicated-span census — the fourth member
  * of the incremental-index family ([[graft.dedup.MinHashIndex]]:
  * near-dup candidates, [[graft.dedup.GramIndex]]: decontamination
  * grams, [[graft.sim.SignLshIndex]]: ANN), and the store a daily
  * crawl needs to run t14/t16 against HISTORY without re-shingling
  * the corpus: the winnowing-fingerprint census (fp → number of
  * holding documents) is materialized once, then APPENDED per crawl
  * batch — only the batch's documents are ever shingled.
  *
  * Tables:
  *  - `census` (fp, n_docs), sidecar `census_bloom` — how many
  *    distinct documents hold each winnowing fingerprint (t14's census
  *    contract: n_docs ≥ 2 means the fp's 6-token span is
  *    corpus-duplicated). ADDITIVE: the corpus census is the per-fp
  *    SUM over segments ([[summed]]), so segments never need
  *    cross-segment dedup;
  *  - `docs` (doc_id), sidecar `docs_bloom` — the identity table. A
  *    document must vote at most once, so an append shingles only its
  *    [[fresh]] docs, and a replayed batch appends the empty delta.
  */
final class WinnowIndex(spark: SparkSession, indexDir: String)
    extends SegmentedIndex(spark, indexDir, "doc_id", "docs", "docs_bloom") {

  /** The corpus-lifetime census: (fp, n_docs) summed over segments. */
  def census(): DataFrame = summed(segmentsOf(requireVersion()), "census", "fp", "n_docs")

  /** The census of the probe fingerprints as it stood BEFORE version
    * `v`'s own delta — the versioned pre-batch state a replayed
    * streaming trigger re-audits against (the
    * [[graft.dedup.GramIndex.gramsBefore]] contract), read
    * bloom-pruned: the per-fp SUM over the claiming segments is the
    * complete pre-batch count, and only their census parquet is
    * opened — O(batch + bloom bytes) per trigger against a year of
    * history.
    */
  def censusBeforeFor(v: Long, fps: DataFrame): DataFrame =
    summed(segmentsOf(v).filterNot(_ == s"s$v"), "census", "fp", "n_docs", Some(fps))

  /** Claim a version and publish its delta segment: census + ids
    * parquet, each with its bloom.
    */
  private def writeDelta(census: DataFrame, docIds: DataFrame,
      prevSegments: Seq[String], tag: Option[String] = None): Long =
    publishSegment(prevSegments, tag) { seg =>
      writeBloomed(seg, "census", census.select(col("fp"), col("n_docs")), "fp",
        "census_bloom"): Unit
      writeIdentity(seg, docIds.select(col("doc_id"))): Unit
    }

  private def censusFrom(docs: DataFrame): DataFrame =
    censusFromWindows(TextOps.winnowWindows(docs))

  private def censusFromWindows(wins: DataFrame): DataFrame =
    wins.select(col("doc_id"), col("fp")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))

  /** Full build from a corpus (docs: doc_id, text) — the once-per-
    * corpus materialization. Duplicate ids collapse first (one vote
    * per document, the census invariant). Returns the published
    * version.
    */
  def build(docs: DataFrame): Long = {
    val b = docs.dropDuplicates("doc_id").localCheckpoint()
    writeDelta(censusFrom(b), b.select(col("doc_id")), Seq.empty)
  }

  /** Delta refresh: shingle only the id-FRESH documents of the batch,
    * write their census delta + ids as one segment. Replaying an
    * overlapping batch appends the empty delta — idempotent, and no
    * document ever double-counts. Returns the published version.
    */
  def append(newDocs: DataFrame, tag: Option[String] = None): Long = {
    val f = fresh(newDocs).localCheckpoint()
    appendShingled(f, TextOps.winnowWindows(f), tag)
  }

  /** [[append]] with the shingling already done, so a caller that also
    * needs the fresh docs' windows (the streaming span-dedup trigger
    * audits against them) shingles ONCE: `windows` MUST be
    * `TextOps.winnowWindows(fresh)` for `fresh` ==
    * [[fresh]] of the batch (package-private so the invariant
    * stays inside graft — the census is still derived here, so a
    * caller cannot hand in a census that violates the one-vote-per-
    * document contract, only mismatched windows).
    */
  private[graft] def appendShingled(fresh: DataFrame, windows: DataFrame,
      tag: Option[String] = None): Long =
    writeDelta(censusFromWindows(windows), fresh.select(col("doc_id")),
      segmentsOf(requireVersion()), tag)

  /** Merge the current segments into ONE (the pre-aggregated census +
    * the disjoint id union) and publish as a new version — the
    * amortized bound on per-append sidecar/footer reads, as in the
    * sibling indexes.
    */
  def compact(): Long =
    writeDelta(census(), readTable("docs"), Seq.empty)
}
