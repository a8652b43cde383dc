package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.util.SegmentedIndex

/** Incrementally-maintained train-gram decontamination index — the
  * third member of the incremental-index family ([[MinHashIndex]] for
  * near-dup candidates, [[graft.sim.SignLshIndex]] for ANN), and the
  * store a production decontaminator actually keeps: the distinct
  * 8-gram digest set of a training snapshot is materialized ONCE, then
  * APPENDED per crawl batch — only the NEW documents are ever
  * shingled, and only grams the corpus has never seen are written.
  * d13's registered audit serves its train side from this index (built
  * once per session/corpus through the MatStore memo); the flat
  * recompute remains the DuckDB oracle.
  *
  * One logical table, its identity table: `grams` (g64) — the
  * corpus-lifetime DISTINCT gram digest set, 16-hex md5 prefixes
  * ([[Dedup.docGrams8]], the same digest d13 keys its audit join on),
  * with sidecar `grams_bloom`. An append writes one delta segment of
  * the batch's grams no earlier segment holds, so chained appends
  * equal a full rebuild exactly (GramIndexSpec).
  */
final class GramIndex(spark: SparkSession, indexDir: String)
    extends SegmentedIndex(spark, indexDir, "g64", "grams", "grams_bloom") {

  /** The corpus-lifetime distinct gram digest set: (g64). */
  def grams(): DataFrame = readTable("grams")

  /** The gram set as it stood BEFORE version `v`'s own delta — the
    * union of `v`'s manifest minus its delta segment (equivalently:
    * the previous version's segments, but read through `v`'s manifest
    * so it stays answerable after older manifests are vacuumed).
    * This is the versioned pre-batch train set a replayed
    * decontamination trigger re-audits against; only meaningful for
    * append-published versions (a compacted version's single merged
    * segment IS its delta).
    */
  def gramsBefore(v: Long): DataFrame = {
    val segs = segmentsOf(v).filterNot(_ == s"s$v")
    if (segs.isEmpty) grams().limit(0)
    else readSegments(segs, "grams")
  }

  /** Claim a version and write its delta segment (grams parquet +
    * delta-sized bloom), then publish it as the previous segments plus
    * it — segment first, manifest+marker last, the shared crash
    * contract.
    */
  private def writeDelta(grams: DataFrame, prevSegments: Seq[String],
      tag: Option[String] = None): Long =
    publishSegment(prevSegments, tag) { seg =>
      writeIdentity(seg, grams.select(col("g64"))): Unit
    }

  /** Full build from a corpus (docs: doc_id, text) — the once-per-
    * training-snapshot materialization. Returns the published version.
    */
  def build(docs: DataFrame): Long =
    writeDelta(Dedup.docGrams8(docs).select(col("g64")).distinct(), Seq.empty)

  /** Delta refresh for appended documents: shingle the NEW docs only,
    * keep only the [[fresh]] grams, write one delta segment. Replaying
    * an overlapping batch appends the empty set — idempotent. Returns
    * the published version.
    */
  def append(newDocs: DataFrame, tag: Option[String] = None): Long = {
    val v = requireVersion()
    writeDelta(fresh(Dedup.docGrams8(newDocs).select(col("g64"))), segmentsOf(v), tag)
  }

  /** Merge the current version's segments into ONE and publish it as a
    * new version. Read-equality is free (segments disjoint); the
    * O(corpus) rewrite is the amortized price that bounds per-append
    * sidecar/footer reads, as in the sibling indexes. Reads straight
    * from the segment-union parquet (stable until [[vacuum]]) — no
    * full-store pin.
    */
  def compact(): Long = writeDelta(grams(), Seq.empty)
}
