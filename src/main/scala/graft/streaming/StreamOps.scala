package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/** A typed event for stateful processing (epoch seconds). */
final case class SEvent(user_id: Long, es: Long, value: Double)

/** A closed session emitted by the stateful sessionizer. */
final case class Session(user_id: Long, start_es: Long, end_es: Long,
    n_events: Long, total_value: Double)

/** Open-session state carried between micro-batches. */
final case class SessionAcc(start_es: Long, end_es: Long, n_events: Long,
    total_value: Double)

/** A typed event for transition counting (event_id breaks ts ties). */
final case class TEvent(user_id: Long, event_id: Long, es: Long, event_type: String)

/** One observed consecutive event-type pair for a user. */
final case class Transition(user_id: Long, from_type: String, to_type: String)

/** Last-seen event state carried between micro-batches. */
final case class TLast(es: Long, event_type: String)

/** Watermarked-transition state: last emitted event plus the buffer of
  * events still inside the disorder window (es above the watermark).
  */
final case class TBuf(last: Option[TLast], pending: Seq[TEvent])

/** Structured Streaming surface: the reference's "server keeps serving
  * while clients add requests" behavior maps to continuous queries.
  * All transforms are mode-agnostic — the same plan runs on a batch
  * DataFrame or a `readStream` source; watermarks bound state so a
  * 100 TB/day stream can't grow executor state without bound.
  */
object StreamOps {

  /** Custom-state sessionizer via flatMapGroupsWithState: emits a
    * session when a ≥30-min gap closes it; the open session rides in
    * [[GroupState]]. With `ProcessingTimeTimeout` (the production
    * default) idle users' open sessions are flushed after an hour;
    * `NoTimeout` keeps them pinned (useful for deterministic tests —
    * ProcessingTimeTimeout makes the micro-batch engine schedule
    * continuous timeout-check batches, which starves
    * `processAllAvailable`).
    */
  def sessionizeStateful(events: Dataset[SEvent],
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout()): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, Session](OutputMode.Append(), timeout)(processUser)
  }

  /** Stream-stream interval join (streaming analog of e04's as-of
    * semantics): each purchase joined to the same user's clicks in the
    * preceding hour, both sides unbounded streams. The watermarks plus
    * the time-interval condition let Spark evict join state — without
    * them a stream-stream join buffers forever.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("value"))
    c.join(p,
      col("c_user") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("c_user").as("user_id"), col("click_ts"),
        col("purchase_ts"), col("value"))
  }

  /** Streaming transition counts (streaming analog of e08): per-user
    * consecutive event-type pairs, with the last seen (es, type) held
    * in [[GroupState]] so pairs spanning micro-batch boundaries are
    * still counted. Emits one (from_type, to_type) row per transition
    * in append mode; the downstream aggregation to a transition matrix
    * is a plain streaming groupBy.
    */
  def transitionsStateful(events: Dataset[TEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TLast, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(processTransitions)
  }

  /** Watermarked transitions: equals the batch e08 answer whenever
    * event disorder is bounded by `delay` — the guarantee
    * [[transitionsStateful]] (which drops late events) cannot give.
    *
    * Events buffer in state until the event-time watermark passes
    * their timestamp; only then are they sorted and emitted, so an
    * out-of-order event that arrives within `delay` still lands in its
    * correct position. State per user is O(events inside the disorder
    * window), bounded by the watermark — the property that lets this
    * run forever on an unbounded stream. An event-time timeout set to
    * the newest buffered timestamp flushes users the stream stops
    * mentioning.
    */
  def transitionsWatermarked(events: Dataset[TEvent],
      delay: String = "10 minutes"): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", col("es").cast("timestamp"))
      .withWatermark("ts", delay)
      .as[TEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TBuf, Transition](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(processWatermarked)
  }

  /** The one trigger skeleton of the micro-batch streams: an empty
    * batch is skipped (an idle stream writes no segment and calls no
    * sink), a non-empty one runs `trigger`, and `after` runs after
    * every trigger — an index's maintenance cadence
    * ([[graft.util.SegmentedIndex.maintain]]).
    */
  private def eachBatch(in: DataFrame, after: Long => Unit = _ => ())(
      trigger: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    in.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) trigger(batch.toDF(), batchId)
        after(batchId)
      }

  /** [[eachBatch]] for a stream whose triggers go through [[journal]],
    * with `index`'s maintenance after every trigger: compact after
    * every `compactEvery`-th trigger, AFTER the sink completes — never
    * between an append and its emission, and the tag journal survives
    * compaction — and vacuum to `vacuumKeep` versions after every
    * trigger. `vacuumKeep` must be 0 (off) or ≥ 2: a crash can land
    * between a trigger's vacuum and its checkpoint commit, and the
    * replayed batch's tagged version is then the newest or (past an
    * interleaved compaction) one behind it.
    */
  private def journaled(in: DataFrame, index: graft.util.SegmentedIndex,
      compactEvery: Int, vacuumKeep: Int)(
      trigger: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    require(vacuumKeep == 0 || vacuumKeep >= 2,
      s"vacuumKeep must be 0 (off) or >= 2 (replay-window slack), got $vacuumKeep")
    eachBatch(in, index.maintain(_, compactEvery, vacuumKeep))(trigger)
  }

  /** The journal of the index-fed streams: the batch with duplicate
    * `key`s collapsed (one decision per key) and materialized, and its
    * tag `<kind>_batch_<batchId>_<rows>_<hash>`.
    *
    * Contract, AT-LEAST-ONCE to an idempotent sink: a trigger publishes
    * its tag atomically with its append, and a replayed batch whose tag
    * is already journaled ([[graft.util.SegmentedIndex.versionTagged]])
    * recomputes its emission from the tagged version — every decision
    * input is versioned state — so it re-emits identical rows instead
    * of re-appending. The tag carries the batch's CONTENT identity (row
    * count + order-insensitive xor-hash of key AND payload) beside the
    * batchId: batchId alone collides when a stream restarts with a
    * fresh checkpoint against the same index (batchIds restart at 0 and
    * the new batch would be swallowed as a replay), and hashing the
    * payload means a reset batch that re-crawls known keys with updated
    * content is not mistaken for one either. A true engine replay
    * re-delivers the same rows, so it matches.
    */
  private def journal(kind: String, batch: DataFrame, batchId: Long,
      key: String = "doc_id", payload: String = "text"): (DataFrame, String) = {
    val b = batch.dropDuplicates(key).localCheckpoint()
    val idRow = b.agg(count(lit(1)),
      bit_xor(xxhash64(col(key), col(payload)))).head()
    (b, s"${kind}_batch_${batchId}_${idRow.getLong(0)}_${idRow.getLong(1)}")
  }

  /** A journaled trigger's fresh rows of `b`, materialized, and the
    * version that already holds them if the trigger is a replay. A
    * replay (`tag` is journaled) recovers the rows whose key the tagged
    * version added ([[graft.util.SegmentedIndex.idsAddedAt]]), so first
    * run and replay decide over the same rows; a first run drops the
    * rows whose key the index already holds (the anti-join half of
    * [[graft.util.SegmentedIndex.fresh]]: the journal has collapsed
    * `b` on `key` already), which the caller appends with the tag.
    */
  private def freshRows(index: graft.util.SegmentedIndex, b: DataFrame,
      key: String, tag: String): (Option[Long], DataFrame) = {
    require(key == index.idKey, s"the journal collapses on $key, " +
      s"the index keys on ${index.idKey}: the batch is not unique on its id")
    val tagged = index.versionTagged(tag)
    (tagged, tagged.fold(b.join(index.known(b.select(col(key))), Seq(key), "left_anti"))(v =>
      b.join(index.idsAddedAt(v), Seq(key), "left_semi")).localCheckpoint())
  }

  /** Continuous maintenance of a [[graft.sim.SignLshIndex]] — the
    * daily-crawl ingestion path run as a stream: every micro-batch of
    * newly-crawled vectors (vec_id, embedding) becomes one delta
    * segment via `SignLshIndex.append`, so the served ANN graph stays
    * a bounded number of micro-batches behind the crawl with O(batch)
    * work per trigger (never a corpus rescan). Restart safety is
    * exactly append's first-writer-wins contract: foreachBatch is
    * at-least-once, and a replayed batch's ids are already stored, so
    * the replay degrades to an empty delta and the served graph is
    * unchanged.
    *
    * @param compactEvery when > 0, run `index.compact()` after every
    *   N-th trigger — the lifecycle cadence that stops per-trigger
    *   segment count (and so sidecar/footer reads) growing without
    *   bound on a long-running stream. Compaction is equality-free
    *   maintenance (segments are disjoint), so a crash-replayed
    *   trigger that re-runs it is harmless churn, not corruption.
    * @param vacuumKeep when > 0, `index.vacuum(vacuumKeep)` after
    *   every trigger — bounds version-history metadata on a stream
    *   that adds a version per trigger (the newest version is always
    *   retained, so the served index is untouched).
    */
  def indexMaintenance(vecs: DataFrame, index: graft.sim.SignLshIndex,
      compactEvery: Int = 0, vacuumKeep: Int = 0): DataStreamWriter[Row] =
    eachBatch(vecs, index.maintain(_, compactEvery, vacuumKeep)) { (batch, _) =>
      index.append(batch)
    }

  /** [[indexMaintenance]] with a live CONSUMER: after every non-empty
    * trigger the refreshed index serves its QUANTIZED top-3 ANN graph
    * ([[graft.sim.SignLshIndex.annGraphQuantized]]) to `serve` — the
    * composition a production embedding pipeline actually runs
    * (crawl → delta append → refreshed neighbor graph), wired to the
    * int8 serve path because that is the one whose wide pair+vector
    * exchange is 2.81× cheaper at scale (measured at sf3,
    * docs/SCALE_EVIDENCE_r12.md) — the stream is precisely where that
    * per-refresh saving compounds. Serve ordering: the graph is
    * served AFTER the trigger's append and BEFORE any maintenance
    * compaction, so what the consumer sees is exactly the
    * post-ingest index state; a replayed batch appends an empty
    * delta (first-writer-wins) and re-serves the identical graph —
    * at-least-once to an idempotent consumer, like [[crawlDedup]].
    * StreamingSpec pins each trigger's served graph bit-equal to a
    * from-scratch rebuild over the stream's lifetime prefix.
    *
    * Consumer contract: the served frame is LAZY. When maintenance is
    * off (`compactEvery == 0 && vacuumKeep == 0`) a consumer may
    * defer evaluation — segments are immutable and only appended.
    * With maintenance on, this trigger may compact/vacuum the very
    * segments the lazy plan reads AFTER the callback returns, so the
    * frame handed to `serve` is localCheckpoint'ed (materialized
    * inside the trigger) — the consumer always observes exactly the
    * post-ingest index state regardless of when it evaluates.
    */
  def indexMaintenanceServed(vecs: DataFrame, index: graft.sim.SignLshIndex,
      compactEvery: Int = 0, vacuumKeep: Int = 0)(
      serve: DataFrame => Unit): DataStreamWriter[Row] =
    eachBatch(vecs, index.maintain(_, compactEvery, vacuumKeep)) { (batch, _) =>
      index.append(batch)
      val graph = index.annGraphQuantized()
      serve(if (compactEvery > 0 || vacuumKeep > 0) graph.localCheckpoint() else graph)
    }

  /** Streaming decontamination against the HISTORICAL gram store,
    * maintaining [[graft.dedup.GramIndex]]: each micro-batch of crawled
    * documents (doc_id, text) is audited against the PRE-batch train
    * gram set with d13's audit ([[graft.dedup.Dedup.contamination]]:
    * per doc, how many of its distinct 8-gram digests the corpus has
    * already seen; docs with < 8 tokens emit no row), the audit rows
    * flow to `sink`, and the batch's own new grams are appended as one
    * delta segment so the NEXT batch is audited against history that
    * includes this one. Per-trigger reads are O(batch + bloom
    * sidecars): the append's membership probe is bloom-pruned
    * ([[graft.dedup.GramIndex.fresh]]), and the audit join reads
    * the stored gram segments by path, never re-shingling old
    * documents.
    *
    * Replay ([[journal]]): re-audits the same rows against
    * [[graft.dedup.GramIndex.gramsBefore]] of the tagged version
    * instead of re-appending (or worse, auditing its own grams as
    * "contamination").
    */
  def decontamStream(docs: DataFrame, index: graft.dedup.GramIndex,
      compactEvery: Int = 0, vacuumKeep: Int = 0)(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    journaled(docs, index, compactEvery, vacuumKeep)(decontamBatch(index, _, _)(sink))

  /** One [[decontamStream]] trigger — factored out so the replay path
    * is directly testable (StreamingSpec drives it with a repeated
    * batchId to simulate the crash between append and sink).
    */
  private[graft] def decontamBatch(index: graft.dedup.GramIndex,
      batch: DataFrame, batchId: Long)(sink: DataFrame => Unit): Unit = {
    val (b, tag) = journal("decontam", batch, batchId)
    val v = index.versionTagged(tag).getOrElse(
      index.append(b.select(col("doc_id"), col("text")), Some(tag)))
    sink(graft.dedup.Dedup.contamination(graft.dedup.Dedup.docGrams8(b), index.gramsBefore(v)))
  }

  /** Streaming duplicated-span EXCISION against the HISTORICAL corpus,
    * maintaining [[graft.text.WinnowIndex]]: each micro-batch of
    * crawled documents (doc_id, text) is audited t16-style — a
    * winnowing window is flagged when its fingerprint's holder count
    * across (pre-batch history + this batch's fresh docs) is ≥ 2,
    * flagged windows merge into maximal spans, and the batch's per-doc
    * excision rows (exactly t16's columns) flow to `sink`; then the
    * fresh docs' census delta is appended so the NEXT batch sees this
    * one as history. Per-trigger reads are O(batch + bloom sidecars):
    * the historical census probe is bloom-pruned per fingerprint
    * ([[graft.text.WinnowIndex.censusBeforeFor]]) and id freshness per
    * doc, never a corpus-lifetime scan; only the batch is shingled.
    *
    * Streaming semantics, stated honestly: a doc is cleaned against
    * duplication KNOWN AT ITS ARRIVAL — an earlier doc is not
    * re-excised when a later crawl repeats its spans (history is
    * immutable). A single-batch ingest of a whole corpus therefore
    * equals batch t16 exactly, and a later batch repeating an earlier
    * batch's span is excised on arrival.
    *
    * Replay ([[journal]]): recovers the fresh set from the tagged
    * version's OWN delta ([[graft.text.WinnowIndex.idsAddedAt]]) and
    * audits against [[graft.text.WinnowIndex.censusBeforeFor]] of that
    * version, so it never audits itself as duplication.
    */
  def spanDedupStream(docs: DataFrame, index: graft.text.WinnowIndex,
      compactEvery: Int = 0, vacuumKeep: Int = 0)(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    journaled(docs, index, compactEvery, vacuumKeep)(spanDedupBatch(index, _, _)(sink))

  /** One [[spanDedupStream]] trigger — factored out so the replay path
    * is directly testable (WinnowIndexSpec drives it with a repeated
    * batchId to simulate the crash between append and sink).
    */
  private[graft] def spanDedupBatch(index: graft.text.WinnowIndex,
      batch: DataFrame, batchId: Long)(sink: DataFrame => Unit): Unit = {
    val (b, tag) = journal("spandedup", batch, batchId)
    // the audited set is the batch's FRESH docs, shingled exactly ONCE:
    // the same localCheckpointed window table feeds the index append
    // (its census delta) and the duplication audit below
    val (tagged, fresh) = freshRows(index, b.select(col("doc_id"), col("text")), "doc_id", tag)
    val wins = graft.text.TextOps.winnowWindows(fresh).localCheckpoint()
    val v = tagged.getOrElse(index.appendShingled(fresh, wins, Some(tag)))
    val batchCensus = wins.select(col("doc_id"), col("fp")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("bn"))
    val hist = index.censusBeforeFor(v, batchCensus.select(col("fp")))
      .withColumnRenamed("n_docs", "hn")
    val flagged = batchCensus.join(hist, Seq("fp"), "left")
      .filter(col("bn") + coalesce(col("hn"), lit(0L)) >= 2)
      .select(col("fp"))
    val marked = wins.join(flagged, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("ps"))
    val docsToks = fresh.select(col("doc_id"),
      expr(graft.text.TextOps.toksExpr).as("toks"))
    sink(graft.text.TextOps.exciseSpans(docsToks, marked))
  }

  /** Streaming LM coherence scoring at ingest, maintaining
    * [[graft.text.BigramLmIndex]]: each micro-batch of crawled
    * documents (doc_id, text) is scored with t20's per-doc aggregate
    * ([[graft.text.TextOps.surprise]]) against the census as of
    * ARRIVAL (pre-batch history plus the batch's own fresh docs, t20's
    * self-inclusive census, so every ratio is well-defined with no
    * smoothing), and the batch's census delta is appended so the NEXT
    * batch sees this one as history. Per-trigger reads are O(batch +
    * bloom sidecars): both count probes are bloom-pruned partial sums
    * ([[graft.text.BigramLmIndex.censusAtFor]]/
    * [[graft.text.BigramLmIndex.leftsAtFor]]) and id freshness runs
    * through per-segment id blooms; only the batch is tokenized.
    *
    * Streaming semantics, stated honestly: a doc is scored against the
    * distribution KNOWN AT ITS ARRIVAL and never re-scored as later
    * crawls shift it — a single-batch ingest of a whole corpus
    * therefore equals batch t20 exactly, and the per-batch
    * mean-surprise trajectory is the live domain-drift signal.
    *
    * Replay ([[journal]]): recovers the fresh set from the tagged
    * version's own delta ([[graft.text.BigramLmIndex.idsAddedAt]]) and
    * probes the census AS OF that version (counts are occurrences: an
    * unguarded replay would double them). The index must be
    * [[graft.text.BigramLmIndex.build]]-published first (an empty
    * build is the cold-start form).
    */
  def lmScoreStream(docs: DataFrame, index: graft.text.BigramLmIndex,
      compactEvery: Int = 0, vacuumKeep: Int = 0)(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    journaled(docs, index, compactEvery, vacuumKeep)(lmScoreBatch(index, _, _)(sink))

  /** One [[lmScoreStream]] trigger — factored out so the replay path is
    * directly testable (BigramLmIndexSpec drives it with a repeated
    * batchId to simulate the crash between append and sink).
    */
  private[graft] def lmScoreBatch(index: graft.text.BigramLmIndex,
      batch: DataFrame, batchId: Long)(sink: DataFrame => Unit): Unit = {
    val (b, tag) = journal("lmscore", batch, batchId)
    // the scored set is the batch's FRESH docs, tokenized exactly ONCE —
    // the same localCheckpointed bigram stream feeds the index append
    // (its census delta) and the scoring joins below
    val (tagged, fresh) = freshRows(index, b.select(col("doc_id"), col("text")), "doc_id", tag)
    val big = graft.text.TextOps.bigramStream(fresh).localCheckpoint()
    val v = tagged.getOrElse(index.appendBigrams(fresh, big, Some(tag)))
    val c12 = index.censusAtFor(v, big.select(col("bigram")))
      .withColumnRenamed("c", "c12")
    val c1 = index.leftsAtFor(v,
        big.select(expr("split_part(bigram, ' ', 1)").as("w1")))
      .withColumnRenamed("c", "c1")
    sink(graft.text.TextOps.surprise(big
      .withColumn("w1", expr("split_part(bigram, ' ', 1)"))
      .join(c12.hint("SHUFFLE_HASH"), Seq("bigram"))
      .join(c1.hint("SHUFFLE_HASH"), Seq("w1"))))
  }

  /** Streaming quality filtering at ingest — t21's deployment shape:
    * the linear quality classifier trains ONCE on the curated
    * reference corpus ([[graft.text.QualityClassifier.weights]]) and
    * its FROZEN weights score every crawl micro-batch on arrival,
    * emitting t21's columns (doc_id, score, keep, weak_label) for the
    * downstream keep/drop router — exactly how the GPT-3/CCNet-style
    * learned filters deploy (train on reference data, apply to the
    * crawl as it streams). Stateless by design: the weights are a
    * 4-double broadcast, each trigger is one per-row codegen
    * projection over the batch (no index, no shuffle beyond the
    * batch), and scoring is trivially replay-idempotent — a re-run
    * trigger re-emits identical rows to the at-least-once sink. The
    * per-batch mean score over the emissions is the live
    * quality-drift signal (the spec recounts it); retraining is a new
    * weights array, a deliberate operator action like SignLshIndex's
    * frozen-model contract. Duplicate in-trigger doc_ids collapse
    * first (one decision per document).
    */
  def qualityScoreStream(docs: DataFrame, weights: Array[Double])(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    eachBatch(docs)((batch, _) => qualityScoreBatch(batch, weights)(sink))

  /** One [[qualityScoreStream]] trigger, factored for direct spec
    * drive (the lmScoreBatch pattern).
    */
  private[graft] def qualityScoreBatch(batch: DataFrame,
      weights: Array[Double])(sink: DataFrame => Unit): Unit =
    sink(graft.text.QualityClassifier.scoreWith(
      batch.dropDuplicates("doc_id"), weights))

  /** Streaming crawl dedup against the HISTORICAL corpus: each
    * micro-batch of crawled documents (doc_id, text) is appended to a
    * [[graft.dedup.MinHashIndex]] (one delta segment; the old corpus
    * is never re-shingled) and the batch's SURVIVORS — documents with
    * no LSH band collision against any earlier-ingested document, and
    * the canonical (min doc_id) representative of each in-batch
    * collision — flow to `sink`. Per-trigger reads are O(batch) plus
    * bloom sidecars: the dup decision reads only the version's
    * candidate DELTA ([[graft.dedup.MinHashIndex.candidatesAddedAt]])
    * and its own fresh-id segment; freshness/replay membership runs
    * through the per-segment id blooms
    * ([[graft.dedup.MinHashIndex.fresh]] — delta-sized sidecars,
    * exact-confirm reads only for claiming segments), never a
    * corpus-lifetime doc_id column scan. This is the dedup shape a
    * daily 100 TB crawl runs: "drop what we have already seen, across
    * all of history, without touching history."
    *
    * Collision semantics are d02's (band-collision candidates); a
    * stricter signature-similarity verification composes downstream
    * of the candidate filter, exactly as in the batch pipeline.
    *
    * Replay ([[journal]]): recomputes the survivor set from the stored
    * delta and re-emits it, instead of silently dropping the batch's
    * survivors because its ids are "already seen". Duplicate doc_ids
    * WITHIN a trigger must collapse first: two copies of one id would
    * otherwise both survive the drop rule (the (a,a) self-pair is
    * excluded) and violate the index's one-row-per-doc_id invariant.
    * A batch with no fresh ids (all ingested by EARLIER batches)
    * appends nothing and emits nothing.
    */
  def crawlDedup(docs: DataFrame, index: graft.dedup.MinHashIndex,
      compactEvery: Int = 0, vacuumKeep: Int = 0)(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    journaled(docs, index, compactEvery, vacuumKeep)(crawlDedupBatch(index, _, _)(sink))

  /** One [[crawlDedup]] trigger — factored out so the replay path is
    * directly testable (StreamingSpec drives it with a repeated
    * batchId to simulate the crash-between-append-and-sink window).
    */
  private[graft] def crawlDedupBatch(index: graft.dedup.MinHashIndex,
      batch: DataFrame, batchId: Long)(sink: DataFrame => Unit): Unit = {
    val (b, tag) = journal("crawl", batch, batchId)
    // a reset batch re-crawling known ids with new text is no replay: it
    // takes the fresh path, where the doc_id-keyed index drops it
    val (tagged, fresh) = freshRows(index, b, "doc_id", tag)
    val appendedV = tagged.orElse(
      if (fresh.isEmpty) None else Some(index.appendFresh(fresh, Some(tag))))
    appendedV.foreach { v =>
      // every decision input below is versioned state, so a replay
      // recomputes the identical survivor set
      val delta = index.candidatesAddedAt(v)
      val fb = fresh.select(col("doc_id").as("doc_b"))
      // pair (a < b), ≥1 endpoint fresh by segment disjointness:
      // b fresh -> b drops (if a is old, b dups history; if both
      // fresh, the min id a stays as the canonical representative);
      // b old -> a is fresh and dups history
      val drops = delta.join(fb, Seq("doc_b"), "left_semi")
          .select(col("doc_b").as("doc_id"))
        .unionAll(delta.join(fb, Seq("doc_b"), "left_anti")
          .select(col("doc_a").as("doc_id")))
        .distinct()
      sink(fresh.join(drops, Seq("doc_id"), "left_anti"))
    }
  }

  /** Streaming IVFADC ingest: each micro-batch of crawled embeddings
    * (vec_id, embedding) is encoded under the [[graft.sim.PqIndex]]'s
    * FROZEN model and appended as one delta code segment (O(batch)
    * per-vector work: broadcast model, map-side argmax — the old
    * corpus is never touched, let alone re-encoded), and the batch's
    * fresh (vec_id, cell) assignments flow to `sink` — the live
    * maintenance path for the code store the s12/s13 serving layout
    * reads. Model staleness accrues visibly: each segment carries its
    * reconstruction-error stats, so
    * [[graft.sim.PqIndex.reconstructionDrift]] after any trigger
    * reports how far the crawl has drifted from the frozen codebooks.
    *
    * Replay ([[journal]], keyed by vec_id, hashing the embedding
    * bits): re-emits the tagged version's own delta
    * ([[graft.sim.PqIndex.cellsAddedAt]]) instead of re-appending.
    * Cross-batch repeats are first-writer-wins (empty delta, empty
    * emission).
    */
  def pqIngestStream(vecs: DataFrame, index: graft.sim.PqIndex,
      compactEvery: Int = 0, vacuumKeep: Int = 0)(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    journaled(vecs, index, compactEvery, vacuumKeep)(pqIngestBatch(index, _, _)(sink))

  /** One [[pqIngestStream]] trigger — factored out so the replay path
    * is directly testable (the spec drives it with a repeated batchId
    * to simulate the crash between append and sink).
    */
  private[graft] def pqIngestBatch(index: graft.sim.PqIndex,
      batch: DataFrame, batchId: Long)(sink: DataFrame => Unit): Unit = {
    val (b, tag) = journal("pqingest", batch, batchId, "vec_id", "embedding")
    val v = index.versionTagged(tag).getOrElse(
      index.append(b.select(col("vec_id"), col("embedding")), Some(tag)))
    sink(index.cellsAddedAt(v))
  }

  /** Continuously-maintained heavy-hitter candidates over a key
    * stream — the streaming face of t12's bounded-memory frequent
    * items: one global Misra–Gries aggregate whose ≤k-entry buffer IS
    * the streaming state (TypedImperativeAggregate serialize/merge is
    * exactly the state-store save/restore contract), so state is
    * bounded at k entries FOREVER while the stream is unbounded, and
    * the mergeable-summaries combine keeps the deterministic guarantee
    * across every micro-batch: after any trigger, the emitted
    * candidate set is a superset of every key with lifetime frequency
    * > n/(k+1). Downstream, the same exact-recount contract as t12
    * applies (candidates say what to COUNT, never what to report).
    * Complete-mode: each trigger re-emits the one summary row.
    */
  def heavyHittersStream(keys: DataFrame, keyCol: String, k: Int): DataFrame =
    keys.groupBy()
      .agg(graft.functions.FreqSketch.misraGriesKeys(col(keyCol), k).as("candidate_keys"),
        count(lit(1)).as("n_total"))

  /** Continuously-maintained per-group distinct-count estimate over an
    * unbounded key stream — the streaming face of the q18/e11 KMV
    * family: per group, the k smallest DISTINCT key hashes ride the
    * same `topKScoredDistinct` TypedImperativeAggregate, whose
    * serialize/merge is the state-store save/restore contract, so
    * state is bounded at k entries per group FOREVER while the
    * lifetime distinct count is unbounded (contrast
    * `dropDuplicates`-based exact streaming distinct, whose state IS
    * the distinct set). Because a min-k of a set is arrival-order- and
    * batching-independent, the emitted estimate after any trigger is
    * BIT-EQUAL to the batch estimator over the stream's lifetime
    * prefix — the batch/stream parity the spec pins across shifted
    * micro-batch boundaries.
    *
    * `keyCol` must be a uniform 32-bit hash in [0, 2³²) — e.g.
    * [[graft.functions.Hash32]]'s `h32`, the same contract as q18/e11.
    * Complete-mode: each trigger re-emits one row per group seen.
    */
  def distinctSketchStream(keys: DataFrame, keyCol: String,
      groupCols: Seq[String], k: Int): DataFrame =
    keys.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.TopKAggregate.topKScoredDistinct(
        negate(col(keyCol).cast("double")), col(keyCol), k).as("mins"))
      .select(groupCols.map(col) ++ graft.functions.TopKAggregate.kmvEstimate(
        size(col("mins")), element_at(col("mins"), k).getField("payload"), k,
        "kmv_est"): _*)

  /** Watermarked 7-day ROLLING distinct-count sketch per event type —
    * the streaming face of the batch e11/e12 rolling distinct, and the
    * operator a metrics pipeline actually schedules:
    * [[distinctSketchStream]] covers the lifetime prefix; this one
    * emits a finalized estimate per (event_type, window-anchor day)
    * and EVICTS old windows by watermark, so it runs forever on an
    * unbounded stream with state bounded by k × active windows.
    *
    * Shape: each event is exploded map-side to the ≤7 window-anchor
    * days it serves — cheap on the wire, because the explode feeds
    * straight into the bounded top-k partial aggregate, so the
    * exchange and the state store carry one ≤k-entry sketch buffer
    * per (type, window), never the exploded events (the batch e11's
    * exact witness is what shuffled raw exploded rows; the sketch
    * path never does). The anchor flag rides the same aggregate so
    * windows whose own day had no events are suppressed, matching the
    * batch operators' output rows exactly.
    *
    * Parity, the tested contract: a min-k of a set is arrival-order-
    * and batching-independent, so a FINALIZED window's (n_kept,
    * kmv_est_7d) is bit-equal to the batch e11/e12 estimate for that
    * (type, day) under any micro-batch boundaries (StreamingSpec pins
    * two shifted splits against an independent driver recount).
    *
    * `delay` is the append-mode finalize knob: the watermark rides the
    * shifted window-anchor timestamp (event day + up to 6 days), so
    * `delay = 7 days` means a window finalizes once any event more
    * than a day past its anchor arrives, and events arriving more
    * than a day out of order may be dropped from still-open windows —
    * the watermark trade every streaming aggregate makes. `keyCol`
    * must be a uniform 32-bit hash in [0, 2³²) (Hash32's h32, the
    * q18/e11 contract); `events` carries (ts timestamp, event_type,
    * keyCol).
    */
  def rollingDistinctStream(events: DataFrame, keyCol: String, k: Int,
      delay: String = "7 days"): DataFrame = {
    val exploded = events
      .withColumn("day_idx", expr("unix_timestamp(ts) div 86400"))
      .select(col("event_type"), col(keyCol).as("h32"), col("day_idx"),
        explode(expr("sequence(day_idx, day_idx + 6)")).as("wday"))
      .withColumn("wts", expr("timestamp_seconds(wday * 86400)"))
      .withColumn("is_anchor", (col("wday") === col("day_idx")).cast("int"))
      .withWatermark("wts", delay)
    exploded
      .groupBy(col("wts"), col("event_type"))
      .agg(graft.functions.TopKAggregate.topKScoredDistinct(
          negate(col("h32").cast("double")), col("h32"), k).as("mins"),
        max(col("is_anchor")).as("anchored"))
      .filter(col("anchored") === 1)
      .select(Seq(col("event_type"), date_format(col("wts"), "yyyy-MM-dd").as("day")) ++
        graft.functions.TopKAggregate.kmvEstimate(size(col("mins")),
          element_at(col("mins"), k).getField("payload"), k, "kmv_est_7d"): _*)
  }

  private def emitSorted(user: Long, last0: Option[TLast],
      sealed0: Seq[TEvent]): (Seq[Transition], Option[TLast]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
    var last = last0.orNull
    sealed0.sortBy(e => (e.es, e.event_id)).foreach { e =>
      // es < last.es can only happen on a watermark violation (arrival
      // later than `delay` after its timestamp); same drop policy as
      // transitionsStateful so even then output stays a subsequence of
      // the batch answer
      if (last == null || e.es >= last.es) {
        if (last != null) out += Transition(user, last.event_type, e.event_type)
        last = TLast(e.es, e.event_type)
      }
    }
    (out.toSeq, Option(last))
  }

  private[streaming] def processWatermarked(user: Long, events: Iterator[TEvent],
      state: GroupState[TBuf]): Iterator[Transition] = {
    if (state.hasTimedOut) {
      val buf = state.get
      val (out, last) = emitSorted(user, buf.last, buf.pending)
      state.update(TBuf(last, Seq.empty))
      return out.iterator
    }
    val buf = state.getOption.getOrElse(TBuf(None, Seq.empty))
    val all = buf.pending ++ events
    // watermark semantics: no event with ts <= watermark will arrive
    // anymore (bounded disorder), so those events' order is final
    val wmSec = state.getCurrentWatermarkMs() / 1000L
    val (sealedEvs, pending) = all.partition(_.es <= wmSec)
    val (out, last) = emitSorted(user, buf.last, sealedEvs)
    state.update(TBuf(last, pending))
    // pending es are all > wmSec, so es*1000 is provably above the
    // current watermark — setTimeoutTimestamp rejects anything else
    if (pending.nonEmpty) state.setTimeoutTimestamp(pending.map(_.es).max * 1000L)
    out.iterator
  }

  private[streaming] def processTransitions(user: Long, events: Iterator[TEvent],
      state: GroupState[TLast]): Iterator[Transition] = {
    // emitSorted drops late events (es older than the saved state):
    // with no watermark to bound disorder, emitting them would produce
    // a time-reversed transition and regress the state to an older
    // event — an output the batch e08 (which sorts globally per user)
    // can never produce
    val (out, last) = emitSorted(user, state.getOption, events.toSeq)
    last.foreach(state.update)
    out.iterator
  }

  private val GapSeconds = 1800L

  private[streaming] def processUser(user: Long, events: Iterator[SEvent],
      state: GroupState[SessionAcc]): Iterator[Session] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      return Iterator.single(Session(user, s.start_es, s.end_es, s.n_events, s.total_value))
    }
    val sorted = events.toArray.sortBy(e => (e.es, e.value))
    val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
    var acc = state.getOption.orNull
    sorted.foreach { e =>
      if (acc == null) {
        acc = SessionAcc(e.es, e.es, 1L, e.value)
      } else if (e.es - acc.end_es > GapSeconds) {
        closed += Session(user, acc.start_es, acc.end_es, acc.n_events, acc.total_value)
        acc = SessionAcc(e.es, e.es, 1L, e.value)
      } else {
        acc = SessionAcc(acc.start_es, e.es, acc.n_events + 1L, acc.total_value + e.value)
      }
    }
    if (acc != null) {
      state.update(acc)
      // no-op under NoTimeout / batch execution
      try state.setTimeoutDuration("1 hour")
      catch { case _: UnsupportedOperationException => () }
    }
    closed.iterator
  }
}
