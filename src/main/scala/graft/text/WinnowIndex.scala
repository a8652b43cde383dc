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
  * One logical table: `census` (fp, n_docs) — how many distinct
  * documents hold each winnowing fingerprint (t14's census contract:
  * n_docs ≥ 2 means the fp's 6-token span is corpus-duplicated).
  * Unlike GramIndex's distinct-set segments, census deltas are
  * ADDITIVE: the corpus census is the per-fp SUM over segments, so
  * segments never need cross-segment dedup — but documents must
  * count at most once, so appends are restricted to id-FRESH docs
  * (per-segment doc_id tables + blooms, [[graft.dedup.MinHashIndex]]'s
  * first-writer-wins rule), and a replayed batch appends the empty
  * delta.
  *
  * WRITES are O(batch): one delta segment (census + ingested ids) +
  * two delta-sized bloom sidecars + a tiny manifest. READS during a
  * trigger are O(batch + bloom bytes): id freshness and the
  * historical census probe both run through per-segment blooms, never
  * a corpus-lifetime column scan.
  *
  * Versioning, crash behavior, [[compact]]/[[vacuum]], and the tag
  * journal are the shared [[graft.util.SegmentedIndex]] lifecycle of
  * the three sibling indexes. Single writer per index dir.
  */
final class WinnowIndex(spark: SparkSession, indexDir: String)
    extends SegmentedIndex(spark, indexDir) {

  private def emptyCensus(): DataFrame =
    spark.range(0).select(col("id").as("fp"), col("id").as("n_docs"))

  private def censusOf(segs: Seq[String]): DataFrame =
    if (segs.isEmpty) emptyCensus()
    else readSegments(segs, "census")
      .groupBy(col("fp")).agg(sum(col("n_docs")).as("n_docs"))

  /** The corpus-lifetime census: (fp, n_docs) summed over segments. */
  def census(): DataFrame = censusOf(segmentsOf(requireVersion()))

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
    probe(segmentsOf(v).filterNot(_ == s"s$v"), "census", "census_bloom", fps, "fp")
      .fold(emptyCensus())(_.groupBy(col("fp")).agg(sum(col("n_docs")).as("n_docs")))

  /** The doc_ids first ingested at version `v` — the version's delta
    * segment, an O(batch) read (the replay path's fresh set).
    */
  def idsAddedAt(v: Long): DataFrame = addedAt(v, "docs")

  /** The subset of `ids` (a doc_id column) ALREADY ingested —
    * bloom-pruned first-writer-wins membership.
    */
  def knownDocs(ids: DataFrame): DataFrame = known(ids, "doc_id", "docs", "docs_bloom")

  /** Claim a version and write its delta segment (census + ids
    * parquet, each with its bloom), then publish it — segment first,
    * manifest+marker last, the shared crash contract.
    */
  private def writeDelta(census: DataFrame, docIds: DataFrame,
      prevSegments: Seq[String], tag: Option[String] = None): Long =
    publishSegment(prevSegments, tag) { seg =>
      writeBloomed(seg, "census", census.select(col("fp"), col("n_docs")), "fp",
        "census_bloom"): Unit
      writeBloomed(seg, "docs", docIds.select(col("doc_id")), "doc_id", "docs_bloom"): Unit
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
    val fresh = freshDocs(newDocs).localCheckpoint()
    appendShingled(fresh, TextOps.winnowWindows(fresh), tag)
  }

  /** The id-FRESH subset of `newDocs` (duplicate ids collapsed, then
    * already-ingested ids dropped via the bloom-pruned membership
    * probe) — [[append]]'s freshness rule, factored out so a caller
    * that also needs the fresh docs' winnowing windows (the streaming
    * span-dedup trigger audits against them) can shingle ONCE and
    * hand the windows to [[appendShingled]] instead of paying the
    * dominant per-trigger shingling cost twice.
    */
  def freshDocs(newDocs: DataFrame): DataFrame = {
    val b = newDocs.dropDuplicates("doc_id")
    b.join(knownDocs(b.select(col("doc_id"))), Seq("doc_id"), "left_anti")
  }

  /** [[append]] with the shingling already done: `windows` MUST be
    * `TextOps.winnowWindows(fresh)` for `fresh` ==
    * [[freshDocs]] of the batch (package-private so the invariant
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
