package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, greatest, least}

import graft.util.{BloomSidecars, SegmentedIndex}

/** Incrementally-maintained MinHash/LSH dedup index — the LLM-pipeline
  * analog of [[graft.graph.DegreeView]], and the operator a daily crawl
  * actually runs: when new documents are APPENDED to a corpus, refresh
  * the signature store and the candidate-pair set without ever
  * re-shingling the old corpus.
  *
  * Maintains two logical tables:
  *
  *   - `sig`  (doc_id, mh0..mh8): the MinHash signature store
  *   - `cand` (doc_a, doc_b): LSH band-collision candidate pairs
  *
  * [[append]] computes signatures for the NEW documents only (the only
  * corpus-sized work, linear in the delta), then extends the candidate
  * set by new-vs-all band matches: bands are a per-row projection of
  * the signature table (three md5 calls per doc — index-sized, cheap),
  * so the join is delta-bands × stored-bands, never a re-shingle and
  * never the old-vs-old self-join again — and "stored" is BLOOM-PRUNED
  * to the segments whose band-key bloom might contain one of the
  * delta's keys, so a quiet day's crawl against a year of history
  * reads sidecar blooms plus the truly colliding segments, not the
  * year's signature store (the candidate set is exactly the unpruned
  * join's). Old-vs-old collisions are already in `cand` by induction,
  * so the refreshed index equals a full rebuild on the appended corpus
  * (spec-proven).
  *
  * WRITES are O(delta) too, not just compute: each append persists only
  * a delta SEGMENT (`seg/s<k>/{sig,cand}` — the new docs' signatures
  * and the new candidate pairs). Candidate pairs are disjoint across
  * segments like signatures: every pair emitted at version k involves
  * ≥ 1 doc first ingested at k (an old-vs-old pair can never
  * re-surface). Without this, a daily 100 TB crawl would rewrite the
  * whole candidate table per ingest — the exact bottleneck the
  * operator exists to avoid.
  *
  * At sf0.1 the full d02 index build is the bench's biggest cold cost
  * (~9.5 s); this is the delta path that amortizes it across ingests.
  *
  * Identity table: `sig` keyed by `doc_id` (sidecar `ids_bloom`); a
  * re-ingested doc_id keeps its first signature, and a batch that
  * repeats a doc_id stores one of its texts' signatures.
  */
final class MinHashIndex(spark: SparkSession, indexDir: String)
    extends SegmentedIndex(spark, indexDir, "doc_id", "sig", "ids_bloom") {

  /** The signature store: (doc_id, mh0..mh8). */
  def signatures(): DataFrame = readTable("sig")

  /** The candidate-pair set: (doc_a, doc_b), doc_a < doc_b. */
  def candidates(): DataFrame = readTable("cand")

  /** The candidate pairs ADDED at version `v` — exactly the pairs with
    * at least one endpoint first ingested by that version's delta
    * (segment contents are disjoint by construction, see the class
    * doc). This is the O(batch)-sized read the streaming crawl-dedup
    * needs: the dup decision for one ingest touches the ingest's own
    * collisions, never the full corpus-lifetime pair set.
    */
  def candidatesAddedAt(v: Long): DataFrame = addedAt(v, "cand")

  /** Combined LSH band key (band || bkey) as one bloom-able string. */
  private def bandKey = concat_ws(":", col("band"), col("bkey"))

  /** Claim a version and write its delta segment (sig + cand parquet
    * plus the two sidecars — `ids_bloom` over the delta's doc_ids,
    * `bands_bloom` over its LSH band keys, both delta-sized), then
    * publish it as `prevSegments` plus the segment.
    */
  private def writeDelta(sig: DataFrame, cand: DataFrame,
      prevSegments: Seq[String], tag: Option[String]): Long =
    publishSegment(prevSegments, tag) { seg =>
      val (written, n) = writeIdentity(seg, sig)
      writeTable(seg, "cand", cand.select(col("doc_a"), col("doc_b"))): Unit
      writeSidecar(seg, "bands_bloom", BloomSidecars.build(
        Dedup.bands(written).select(bandKey.as("bk")), "bk", n * Dedup.BANDS))
    }

  /** Full build from a corpus (docs: doc_id, text) — initialization.
    * Duplicate doc_ids collapse as in [[fresh]]. Returns the published
    * version.
    */
  def build(docs: DataFrame): Long = {
    val sig = Dedup.minhashes(docs.dropDuplicates(idKey)).localCheckpoint()
    writeDelta(sig, Dedup.candidates(sig), Seq.empty, None)
  }

  /** Delta refresh for appended documents: shingle/minhash the NEW
    * docs only, union into the signature store, and extend the
    * candidate set by new-vs-all band matches. The old corpus text is
    * never touched, and the INDEX-sized reads are bloom-pruned too:
    *
    *  - first-writer-wins membership runs through [[fresh]]
    *    (per-segment id blooms), not a full doc_id column scan;
    *  - the new-vs-all band join reads ONLY the segments whose band
    *    bloom might contain one of the delta's band keys, so the
    *    candidate set equals the unpruned join's exactly. A quiet
    *    day's crawl against a year of history reads blooms plus the
    *    few truly colliding segments, not the year's signature store.
    *
    * Only the delta segment (plus its blooms) is written.
    *
    * @param tag optional journal tag published with the version (see
    *            [[tagOf]]) — the streaming crawl's replay detector
    * @return the published version
    */
  def append(newDocs: DataFrame, tag: Option[String] = None): Long =
    appendFresh(fresh(newDocs), tag)

  /** [[append]] of a batch already passed through [[fresh]] — for the
    * streaming crawl, which needs the fresh docs itself. `fresh` MUST
    * contain no stored doc_id and no duplicate doc_id, or segment
    * disjointness breaks.
    */
  private[graft] def appendFresh(fresh: DataFrame,
      tag: Option[String] = None): Long = {
    val segs = segmentsOf(requireVersion())
    val newSig = Dedup.minhashes(fresh).localCheckpoint()

    // new-vs-all band collisions over the bloom-surviving segments
    // (plus new-vs-new via the delta's own bands); canonicalize (a<b)
    // then dedup — a new-new pair surfaces from both sides of the
    // join, and a pair sharing several bands surfaces once per band
    val nb = Dedup.bands(newSig)
      .select(col("doc_id").as("doc_n"), col("band"), col("bkey"))
      .localCheckpoint()
    val hit = claimingSegments(segs, "bands_bloom", nb, bandKey)
    val oldRelevant =
      if (hit.isEmpty) newSig.limit(0)
      else readSegments(hit, "sig")
    val ab = Dedup.bands(oldRelevant.unionByName(newSig))
      .select(col("doc_id").as("doc_o"), col("band").as("band_o"), col("bkey").as("bkey_o"))
    val newCand = nb.join(ab,
        col("band") === col("band_o") && col("bkey") === col("bkey_o") &&
          col("doc_n") =!= col("doc_o"))
      .select(least(col("doc_n"), col("doc_o")).as("doc_a"),
        greatest(col("doc_n"), col("doc_o")).as("doc_b"))
      .distinct()

    // delta fully computed from the base version's inputs before the
    // new version is written; the manifest+marker publish it
    writeDelta(newSig, newCand, segs, tag)
  }

  /** Merge the current version's segments into ONE and publish it as
    * a new version. Read-equality is free — segments are disjoint, so
    * the merged tables are exactly the union the old manifest served —
    * and the rewrite is O(corpus), amortized: a per-trigger append
    * adds a segment, and segment COUNT is what grows per-trigger
    * sidecar/footer reads and bloom-probe width, so a periodic
    * compact (weekly, against a day-granularity crawl) bounds it.
    * Old versions still reference the pre-compaction segments until
    * [[vacuum]] retires them; run compaction from the same
    * single-writer maintenance loop as appends, never between an
    * append and its streaming sink's completion ([[versionTagged]]
    * keeps replay detection correct across a compaction, but a
    * vacuumed-away tagged version cannot be replayed — retain ≥ 1
    * version of slack).
    *
    * @return the published compaction version
    */
  def compact(): Long = {
    requireVersion(): Unit
    // No pin: signatures() is a parquet read over the old segments,
    // which stay on disk until a later vacuum().
    writeDelta(signatures(), candidates(), Seq.empty, None)
  }
}
