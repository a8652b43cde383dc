package graft

import graft.streaming._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("stateful sessionizer matches the batch sessionization on closed sessions") {
    // fixture: user 1 has two sessions (gap 31 min), user 2 one session
    val evs = Seq(
      SEvent(1L, 0L, 1.0), SEvent(1L, 600L, 2.0),       // session A: 2 events
      SEvent(1L, 600L + 1860L, 5.0),                    // session B (31-min gap)
      SEvent(2L, 100L, 4.0)).toDS()
    val sessions = StreamOps.sessionizeStateful(evs).collect()
    // batch mode: only gap-closed sessions are emitted (open ones stay in state)
    assert(sessions.toSeq == Seq(Session(1L, 0L, 600L, 2L, 3.0)))
  }

  test("stream-stream interval join matches purchases to prior-hour clicks") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val purchases = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val joined = StreamOps.clickPurchaseJoin(
      clicks.toDF().toDF("ts", "user_id"),
      purchases.toDF().toDF("ts", "user_id", "value"))
    val q = joined.writeStream
      .format("memory").queryName("ssj_out").outputMode("append").start()
    try {
      clicks.addData((ts(10), 1L), (ts(50), 1L), (ts(10), 2L))
      // user 1 purchase at min 70: clicks at 10 and 50 are both within
      // the preceding hour; user 2 purchase at min 200 has no click
      // within an hour
      purchases.addData((ts(70), 1L, 9.0), (ts(200), 2L, 5.0))
      q.processAllAvailable()
      val out = spark.table("ssj_out")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getDouble(3))).toSet
      assert(out == Set(
        (1L, "2024-01-01 00:10:00.0", "2024-01-01 01:10:00.0", 9.0),
        (1L, "2024-01-01 00:50:00.0", "2024-01-01 01:10:00.0", 9.0)))
    } finally q.stop()
  }

  test("stateful transition counter counts pairs across micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TEvent]
    val q = StreamOps.transitionsStateful(in.toDS()).writeStream
      .format("memory").queryName("transitions_out").outputMode("append").start()
    try {
      in.addData(TEvent(1L, 1L, 100L, "signup"), TEvent(1L, 2L, 200L, "click"))
      q.processAllAvailable()
      // the signup->click pair above; click->purchase spans the batch boundary
      in.addData(TEvent(1L, 3L, 300L, "purchase"), TEvent(2L, 4L, 50L, "view"))
      q.processAllAvailable()
      in.addData(TEvent(2L, 5L, 60L, "click"))
      q.processAllAvailable()
      val out = spark.table("transitions_out").as[Transition].collect().toSet
      assert(out == Set(
        Transition(1L, "signup", "click"),
        Transition(1L, "click", "purchase"),
        Transition(2L, "view", "click")))
    } finally q.stop()
  }

  test("watermarked transitions equal the batch answer under bounded disorder") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TEvent]
    val q = StreamOps.transitionsWatermarked(in.toDS(), "10 minutes").writeStream
      .format("memory").queryName("wm_transitions_out").outputMode("append").start()
    try {
      // user 1's signup (es=100) arrives AFTER its click (es=160) — in a
      // later micro-batch, but within the 10-min disorder bound; the
      // late-dropping transitionsStateful would lose the signup->click
      // pair, the watermarked variant must reorder and keep it
      in.addData(TEvent(1L, 2L, 160L, "click"), TEvent(2L, 5L, 100L, "view"))
      q.processAllAvailable()
      in.addData(TEvent(1L, 1L, 100L, "signup"), TEvent(1L, 3L, 220L, "purchase"),
        TEvent(2L, 6L, 300L, "click"))
      q.processAllAvailable()
      in.addData(TEvent(1L, 4L, 400L, "view"))
      q.processAllAvailable()
      // sentinel pushes the watermark past every real event; the extra
      // no-data micro-batch Spark runs on watermark advance fires the
      // event-time timeouts that flush the buffered tails
      in.addData(TEvent(99L, 9L, 10000L, "x"))
      q.processAllAvailable()
      val got = spark.table("wm_transitions_out").as[Transition].collect().toSet
      // == batch e08 semantics: per user, sort by (es, event_id), pair up
      val batch = Set(
        Transition(1L, "signup", "click"),
        Transition(1L, "click", "purchase"),
        Transition(1L, "purchase", "view"),
        Transition(2L, "view", "click"))
      assert(got == batch)
    } finally q.stop()
  }

  test("watermarked transitions equal batch on random bounded-disorder streams") {
    // Property: for ANY event set delivered in ANY order whose
    // disorder stays inside the watermark delay, the streaming output
    // is exactly the batch per-user (es, event_id) transition multiset.
    // Delivery order = sort by (es + jitter) with |jitter| <= 250s:
    // when an event arrives, the max es already seen is at most
    // es + 2*250 < the 600s delay, so no event is ever late-violating.
    val types = Vector("signup", "click", "view", "purchase")
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { caseNo =>
      val events = for {
        u <- 1L to 3L
        n = 3 + rnd.nextInt(6)
        (es, i) <- Iterator.iterate(1000L)(_ + 60L + rnd.nextInt(240)).take(n).toSeq.zipWithIndex
      } yield TEvent(u, u * 100 + i, es, types(rnd.nextInt(types.size)))
      val batchAnswer = events.groupBy(_.user_id).toSeq.flatMap { case (u, evs) =>
        evs.sortBy(e => (e.es, e.event_id)).sliding(2).collect {
          case Seq(a, b) => Transition(u, a.event_type, b.event_type)
        }
      }.groupBy(identity).view.mapValues(_.size).toMap

      val delivery = events.sortBy(e => e.es + rnd.nextInt(501) - 250)
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[TEvent]
      val qname = s"wm_prop_out_$caseNo"
      val q = StreamOps.transitionsWatermarked(in.toDS(), "10 minutes").writeStream
        .format("memory").queryName(qname).outputMode("append").start()
      try {
        delivery.grouped(1 + rnd.nextInt(4)).foreach { chunk =>
          in.addData(chunk.toSeq: _*)
          q.processAllAvailable()
        }
        in.addData(TEvent(9999L, 1L, events.map(_.es).max + 100000L, "x"))
        q.processAllAvailable()
        val got = spark.table(qname).as[Transition].collect().toSeq
          .groupBy(identity).view.mapValues(_.size).toMap
        assert(got == batchAnswer, s"case $caseNo: $got != $batchAnswer")
      } finally q.stop()
    }
  }

  test("watermarked transitions survive a query restart from checkpoint") {
    // The production property: GroupState (buffered events + last
    // emitted) and the watermark are durable — stop the query
    // mid-stream, restart from the same checkpoint, and the output
    // across both runs is exactly the batch answer, with the
    // cross-restart transition (click -> purchase) emitted once.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString
    val in = MemoryStream[TEvent]
    // memory sink cannot recover; the parquet sink is the
    // fault-tolerant one (exactly-once via the checkpoint's commit log)
    def start() = StreamOps.transitionsWatermarked(in.toDS(), "10 minutes").writeStream
      .format("parquet").option("path", out).outputMode("append")
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      in.addData(TEvent(1L, 1L, 100L, "signup"), TEvent(1L, 2L, 160L, "click"))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      in.addData(TEvent(1L, 3L, 900L, "purchase"))
      q2.processAllAvailable()
      in.addData(TEvent(99L, 9L, 100000L, "x")) // watermark push -> flush
      q2.processAllAvailable()
      val got = spark.read.parquet(out).as[Transition].collect().toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got == Map(
        Transition(1L, "signup", "click") -> 1,
        Transition(1L, "click", "purchase") -> 1), got.toString)
    } finally q2.stop()
  }

  test("stateful sessionizer emits sessions incrementally on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SEvent]
    val q = StreamOps.sessionizeStateful(in.toDS(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()).writeStream
      .format("memory").queryName("stateful_out").outputMode("append").start()
    try {
      in.addData(SEvent(5L, 1000L, 1.0), SEvent(5L, 1100L, 2.0))
      q.processAllAvailable()
      in.addData(SEvent(5L, 1100L + 2000L, 7.0)) // gap > 30 min closes session 1
      q.processAllAvailable()
      val out = spark.table("stateful_out").as[Session].collect().toSeq
      assert(out == Seq(Session(5L, 1000L, 1100L, 2L, 3.0)))
    } finally q.stop()
  }

  test("streaming crawl dedup: survivors match the from-scratch LSH decision per batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.{Dedup, MinHashIndex}
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
      .select("doc_id", "text")
    // history = 2/3 of the corpus; today's crawl arrives in two
    // micro-batches, the second replaying part of the first
    val day0 = docs.filter(col("doc_id") % 3 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1)))
    val batchA = rows(docs.filter(col("doc_id") % 6 === 0))
    val batchB = rows(docs.filter(col("doc_id") % 6 === 3)) ++ batchA.take(20)

    val idxDir = java.nio.file.Files.createTempDirectory("mhidx_stream").toString
    val idx = new MinHashIndex(spark, idxDir)
    idx.build(day0)

    val emitted = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.crawlDedup(in.toDF().toDF("doc_id", "text"), idx) { surv =>
      emitted += surv.select("doc_id").collect().map(_.getLong(0)).toSet
    }.start()

    // from-scratch reference: band collisions recomputed off the raw
    // corpus (no index involvement), same drop rule
    def expectedSurvivors(prevIds: Set[Long], batch: Seq[(Long, String)]): Set[Long] = {
      import spark.implicits._
      val freshIds = batch.map(_._1).toSet -- prevIds
      // every ingested doc originates from the corpus table, so the
      // reference corpus is the full ingested id set resolved there
      // (prevIds includes EARLIER BATCHES, not just day0)
      val corpus = docs
        .join(((prevIds ++ freshIds).toSeq.toDF("doc_id")), Seq("doc_id"), "left_semi")
      val b = Dedup.bands(Dedup.minhashes(corpus))
      val pairs = b.as("x").join(b.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val drops = pairs.collect {
        case (a, b) if freshIds(a) && prevIds(b) => a
        case (a, b) if freshIds(b) => b
      }.toSet
      freshIds -- drops
    }

    try {
      val prev0 = day0.select("doc_id").collect().map(_.getLong(0)).toSet
      in.addData(batchA.toSeq)
      q.processAllAvailable()
      assert(emitted.size == 1)
      assert(emitted(0) == expectedSurvivors(prev0, batchA))

      val prev1 = prev0 ++ batchA.map(_._1)
      in.addData(batchB.toSeq)
      q.processAllAvailable()
      assert(emitted.size == 2)
      // replayed doc_ids are never re-emitted: they are not fresh
      assert(emitted(1) == expectedSurvivors(prev1, batchB))
      assert(emitted(1).intersect(batchA.take(20).map(_._1).toSet).isEmpty)

      val v = idx.version
      q.processAllAvailable() // idle trigger: no segment, no sink call
      assert(idx.version == v && emitted.size == 2)
    } finally q.stop()

    // the streamed index still equals a full rebuild (the existing
    // MinHashIndexSpec contract, re-checked through the streaming path)
    val rebuilt = new MinHashIndex(spark,
      java.nio.file.Files.createTempDirectory("mhidx_stream_rb").toString)
    rebuilt.build(day0.unionByName((batchA ++ batchB).distinct.toSeq.toDF("doc_id", "text")))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(idx.candidates()) == pairSet(rebuilt.candidates()))
  }

  test("crawl dedup: a replayed batch re-emits its survivors after a crashed sink") {
    // The at-least-once contract: foreachBatch can crash BETWEEN the
    // index append (published, versioned) and the sink. On replay the
    // batch's ids are all "already seen", so a freshness-only design
    // silently drops the batch's survivors forever. The batchId tag
    // journaled with the version must instead route the replay to a
    // recompute-and-re-emit of the identical survivor set.
    import graft.dedup.MinHashIndex
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
      .select("doc_id", "text")
    val day0 = docs.filter(col("doc_id") % 3 =!= 0)
    val batchRows = docs.filter(col("doc_id") % 6 === 0).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // plus an in-batch duplicate id: both copies must collapse before
    // the drop rule (the (a,a) self-pair is excluded, so two copies
    // would otherwise both survive AND double-write the signature)
    val batch = (batchRows ++ batchRows.take(3)).toDF("doc_id", "text")

    def newIdx(pfx: String) = {
      val idx = new MinHashIndex(spark,
        java.nio.file.Files.createTempDirectory(pfx).toString)
      idx.build(day0)
      idx
    }

    // reference: the same batch through a clean (never-crashing) run
    val clean = newIdx("mhidx_clean")
    var expected: Set[Long] = null
    StreamOps.crawlDedupBatch(clean, batch, 7L)(s =>
      expected = s.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(expected != null && expected.nonEmpty)

    val idx = newIdx("mhidx_crash")
    val vBefore = idx.version.get
    intercept[RuntimeException](
      StreamOps.crawlDedupBatch(idx, batch, 7L)(_ =>
        throw new RuntimeException("sink crashed")))
    // the append published before the sink crashed — the exact window
    assert(idx.version.contains(vBefore + 1))
    assert(idx.tagOf(vBefore + 1).exists(_.startsWith("crawl_batch_7_")))

    // a maintenance compaction published between the crash and the
    // replay must not hide the batch's journal entry (versionTagged
    // scans retained versions, not only the newest)
    idx.compact()

    var replayed: Set[Long] = null
    StreamOps.crawlDedupBatch(idx, batch, 7L)(s =>
      replayed = s.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(replayed == expected,
      s"replay must re-emit the crashed batch's survivors (${expected.size}), " +
        s"got ${Option(replayed).map(_.size)}")
    // and must NOT double-append (the compaction is the only version
    // past the crashed batch's)
    assert(idx.version.contains(vBefore + 2))
    // in-batch duplicate collapsed: one signature row per doc_id
    val sigDups = idx.signatures().groupBy(col("doc_id")).count()
      .filter(col("count") > 1).count()
    assert(sigDups == 0, s"$sigDups doc_ids have duplicate signature rows")

    // checkpoint-reset collision: a DIFFERENT batch arriving under an
    // already-journaled batchId (the stream restarted with a fresh
    // checkpoint, so batchIds restart at 0) must NOT be swallowed as
    // a replay — the tag's content identity disambiguates. The new
    // docs must be appended and their survivors emitted.
    val newbieRows = docs.filter(col("doc_id") % 6 === 3).limit(30).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val vBeforeReset = idx.version.get
    var resetEmitted: Set[Long] = null
    StreamOps.crawlDedupBatch(idx, newbieRows.toDF("doc_id", "text"), 7L)(s =>
      resetEmitted = s.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(idx.version.contains(vBeforeReset + 1),
      "a fresh-content batch under a reused batchId must append, not replay")
    assert(resetEmitted != null &&
      resetEmitted.subsetOf(newbieRows.map(_._1).toSet) &&
      resetEmitted.intersect(expected).isEmpty,
      s"fresh-content batch emitted wrong rows: $resetEmitted")
  }

  test("crawl dedup per-trigger reads stay ~flat while the index grows (bloom-pruned membership)") {
    // The 100 TB property: the dup decision for one trigger must not
    // re-read corpus-lifetime state. Freshness/replay membership goes
    // through per-segment id blooms and the candidate join through
    // per-segment band blooms, so per-trigger read bytes stay ~flat
    // across chained batches — the previous design's per-trigger
    // signatures() doc_id scan grew linearly with history.
    import graft.dedup.MinHashIndex
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
      .select("doc_id", "text")
    val idx = new MinHashIndex(spark,
      java.nio.file.Files.createTempDirectory("mhidx_flat").toString)
    idx.build(docs)

    val stats = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    assume(stats != null, "no 'file' scheme storage statistics on this host")
    def bytesRead: Long = stats.getLong("bytesRead")

    def syntheticBatch(i: Int) = {
      // pairwise-DISSIMILAR texts (seeded random strings — near-zero
      // shared shingles, so no true band collisions against history or
      // each other): measured reads isolate the MEMBERSHIP machinery,
      // not legitimate candidate hydration
      (0 until 40).map { j =>
        val id = 1000000L + i * 1000L + j
        val rnd = new scala.util.Random(id)
        (id, Seq.fill(60)(rnd.alphanumeric.take(5).mkString).mkString(" "))
      }.toDF("doc_id", "text")
    }

    val deltas = (1 to 12).map { i =>
      val b0 = bytesRead
      StreamOps.crawlDedupBatch(idx, syntheticBatch(i), 100L + i)(_.count())
      bytesRead - b0
    }
    info(s"per-trigger bytesRead: ${deltas.mkString(", ")}")
    // 12 chained appends: history grew ~12x in segments. Compare the
    // median of late triggers to the median of early ones — linear
    // growth would put late at ~4-8x early; the bloom design adds only
    // KB-sized sidecar reads per extra segment.
    val early = deltas.slice(1, 5).sorted.apply(2)
    val late = deltas.takeRight(4).sorted.apply(2)
    assert(late <= early * 2 + (512 << 10),
      s"late-trigger reads grew with history: early median $early B, " +
        s"late median $late B")
  }

  test("streaming index maintenance: appended micro-batches serve the full-rebuild ANN graph") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sim.SignLshIndex
    val vecs = Tables(spark, "/root/testdata/sf0.01", "embeddings")
      .select("vec_id", "embedding")
    // yesterday's corpus is batch-built; today's crawl arrives as a
    // stream in two micro-batches, the second replaying part of the
    // first (at-least-once delivery)
    val dayZero = vecs.filter(col("vec_id") % 5 < 3)
    val batchA = vecs.filter(col("vec_id") % 5 === 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val batchB = vecs.filter(col("vec_id") % 5 === 4)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

    val idxDir = java.nio.file.Files.createTempDirectory("signidx_stream").toString
    val idx = new SignLshIndex(spark, idxDir)
    idx.build(dayZero)

    val in = MemoryStream[(Long, Array[Float])]
    // compactEvery=1: the second trigger also compacts, so the final
    // equality below proves the served graph survives in-stream
    // segment compaction bit-exactly
    val q = StreamOps.indexMaintenance(
      in.toDF().toDF("vec_id", "embedding"), idx, compactEvery = 1).start()
    try {
      in.addData(batchA.toSeq)
      q.processAllAvailable()
      assert(idx.version.contains(2L))
      in.addData((batchB ++ batchA.take(10)).toSeq) // replayed overlap
      q.processAllAvailable()
      assert(idx.version.contains(4L)) // append v3 + in-stream compaction v4
      q.processAllAvailable() // idle trigger: no data, no version churn
      assert(idx.version.contains(4L))
    } finally q.stop()

    // the streamed index serves the bit-exact graph of a from-scratch
    // build over the whole corpus (s06's oracle hashes cosine bits, so
    // "close" is not enough)
    val rebuildDir = java.nio.file.Files.createTempDirectory("signidx_stream_rb").toString
    val rebuilt = new SignLshIndex(spark, rebuildDir)
    rebuilt.build(vecs)
    assert(rebuilt.params == idx.params)
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rowSet(idx.annGraph()) == rowSet(rebuilt.annGraph()))
  }

  test("streaming KMV distinct: bounded state, bit-equal to the batch estimator per trigger") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val k = 32
    // (group, h32) key stream in three micro-batches; heavy overlap
    // between batches (re-arrivals must not move the estimate) and a
    // group that stays below k (exact-fallback regime) beside one far
    // above it (estimate regime)
    def h(i: Long): Long = (i * 2654435761L) % 4294967296L
    val batches: Seq[Seq[(String, Long)]] = Seq(
      (1 to 200).map(i => "big" -> h(i)) ++ (1 to 10).map(i => "small" -> h(i)),
      (100 to 400).map(i => "big" -> h(i)) ++ (5 to 15).map(i => "small" -> h(i)),
      (300 to 900).map(i => "big" -> h(i)) ++ (1 to 20).map(i => "small" -> h(i)))

    val in = MemoryStream[(String, Long)]
    val q = StreamOps.distinctSketchStream(
        in.toDF().toDF("g", "h32"), "h32", Seq("g"), k)
      .writeStream.format("memory").queryName("kmv_out").outputMode("complete").start()
    try {
      var lifetime = Seq.empty[(String, Long)]
      batches.foreach { b =>
        lifetime ++= b
        in.addData(b)
        q.processAllAvailable()
        val got = spark.table("kmv_out").collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
        // batch reference over the lifetime prefix: same estimator,
        // one pass — a min-k of a set cannot depend on batching
        val ref = StreamOps.distinctSketchStream(
            lifetime.toDF("g", "h32"), "h32", Seq("g"), k)
          .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
        assert(got == ref, s"stream $got != batch $ref")
        assert(got("small")._1 < k && got("big")._1 == k.toLong,
          "both regimes must be exercised")
        // exact-fallback regime: the estimate IS the distinct count
        val smallExact = lifetime.filter(_._1 == "small").map(_._2).distinct.size
        assert(got("small")._2 == smallExact.toDouble)
        // estimate regime: within the 3-sigma envelope of 1/sqrt(k-2)
        val bigExact = lifetime.filter(_._1 == "big").map(_._2).distinct.size
        val rel = math.abs(got("big")._2 - bigExact) / bigExact
        assert(rel < 0.60, f"big: exact $bigExact, est ${got("big")._2}%.1f, rel $rel%.3f")
      }
    } finally q.stop()
  }

  test("watermarked rolling distinct: finalized windows bit-equal an independent recount under shifted batching") {
    implicit val sqlCtx = spark.sqlContext
    val k = 8
    // 10 days × 2 types anchored at a MODERN date (an epoch-0 stream
    // would collide with Spark's initial watermark of 0 and lose its
    // first day to the late filter — a test artifact, not a semantics
    // question any real stream hits); per-day user pools overlap
    // across days (user id -> fixed hash), sized so early windows
    // exercise the exact branch (< k distinct) and late ones the
    // estimate branch
    val base = java.time.LocalDate.parse("2024-03-01").toEpochDay
    def h32(u: Int): Long = (u.toLong * 2654435761L) % 4294967296L
    val events: Seq[(java.sql.Timestamp, String, Long)] =
      for {
        day <- 0 until 10
        typ <- Seq("click", "view")
        u <- 0 until (3 + 2 * day)
      } yield (new java.sql.Timestamp(((base + day) * 86400L + u * 60) * 1000L),
        typ, h32((u * 7 + day * 3) % 25))
    // flush rider: advances the watermark a week past day 9 so every
    // real window finalizes; its own (never-finalized) windows are
    // filtered out of the comparison by type
    val flush = (new java.sql.Timestamp((base + 20L) * 86400L * 1000L), "flush", 0L)

    // independent driver recount of the KMV arithmetic per anchor
    val expected: Map[(String, String), (Long, Double)] =
      (for {
        day <- 0 until 10
        typ <- Seq("click", "view")
      } yield {
        val hs = events.filter(e => e._2 == typ && {
            val d = e._1.getTime / 86400000L - base
            d >= day - 6 && d <= day
          })
          .map(_._3).distinct.sorted
        val est =
          if (hs.size < k) hs.size.toDouble
          else (k - 1).toDouble * 4294967296.0 / (hs(k - 1).toDouble + 1.0)
        (typ, java.time.LocalDate.ofEpochDay(base + day).toString) ->
          ((math.min(hs.size, k).toLong, est))
      }).toMap

    def run(batches: Seq[Seq[(java.sql.Timestamp, String, Long)]],
        sink: String): Map[(String, String), (Long, Double)] = {
      val in = MemoryStream[(java.sql.Timestamp, String, Long)]
      val q = StreamOps.rollingDistinctStream(
          in.toDF().toDF("ts", "event_type", "h32"), "h32", k)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        batches.foreach { b => in.addData(b); q.processAllAvailable() }
        in.addData(flush)
        q.processAllAvailable()
        spark.table(sink).collect()
          .filter(r => r.getString(0) != "flush")
          .map(r => (r.getString(0), r.getString(1)) ->
            ((r.getLong(2), r.getDouble(3)))).toMap
      } finally q.stop()
    }

    // two shifted batchings, events shuffled WITHIN each batch (the
    // watermark only requires cross-batch rough order)
    val rnd = new scala.util.Random(11)
    val byDay = events.groupBy(_._1.getTime / 86400000L).toSeq.sortBy(_._1)
      .map(b => rnd.shuffle(b._2))
    val uneven = {
      val cuts = Seq(0, 3, 4, 8, 99)
      cuts.sliding(2).map { case Seq(a, b) =>
        rnd.shuffle(events.filter { e =>
          val d = e._1.getTime / 86400000L - base; d >= a && d < b
        })
      }.filter(_.nonEmpty).toSeq
    }
    val got1 = run(byDay, "rd_out1")
    val got2 = run(uneven, "rd_out2")
    assert(got1 == expected,
      s"by-day batching diverges: ${got1.toSeq.diff(expected.toSeq).take(3)}")
    assert(got2 == expected, "shifted batching diverges")
    // both regimes engaged
    assert(expected.values.exists(_._1 < k) && expected.values.exists(_._1 == k.toLong))
  }

  test("streaming heavy hitters: bounded state, lifetime superset guarantee per trigger") {
    implicit val sqlCtx = spark.sqlContext
    val k = 16
    // three skewed micro-batches; the heavy set SHIFTS between them
    // (key 100 heavy early, key 200 heavy late) so the per-trigger
    // guarantee is about the lifetime stream, not any single batch
    def burst(key: Long, n: Int): Seq[Long] = Seq.fill(n)(key)
    val batches: Seq[Seq[Long]] = Seq(
      burst(100L, 900) ++ (1 to 300).map(i => (i % 60).toLong),
      burst(200L, 700) ++ burst(100L, 100) ++ (1 to 300).map(i => (i % 60 + 60).toLong),
      burst(300L, 1200) ++ (1 to 300).map(i => (i % 60 + 120).toLong))

    val in = MemoryStream[Long]
    val q = StreamOps.heavyHittersStream(in.toDF().toDF("h"), "h", k)
      .writeStream.format("memory").queryName("hh_out").outputMode("complete").start()
    try {
      var lifetime = Seq.empty[Long]
      batches.foreach { b =>
        lifetime ++= b
        in.addData(b)
        q.processAllAvailable()
        val row = spark.table("hh_out").head()
        val cands = row.getSeq[Long](0).toSet
        val nTotal = row.getLong(1)
        assert(nTotal == lifetime.size.toLong, "lifetime total")
        assert(cands.size <= k, s"state bound violated: ${cands.size}")
        val mustKeep = lifetime.groupBy(identity)
          .filter(_._2.size > lifetime.size / (k + 1)).keySet
        assert(mustKeep.nonEmpty, "test stream must exercise the bound")
        assert(mustKeep.subsetOf(cands),
          s"missing lifetime-heavy keys after trigger: ${mustKeep -- cands}")
      }
    } finally q.stop()
  }

  test("streaming index maintenance serves the QUANTIZED graph per trigger, bit-equal to a prefix rebuild") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sim.SignLshIndex
    val vecs = Tables(spark, "/root/testdata/sf0.01", "embeddings")
      .select("vec_id", "embedding")
    val dayZero = vecs.filter(col("vec_id") % 5 < 3)
    val batchA = vecs.filter(col("vec_id") % 5 === 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val batchB = vecs.filter(col("vec_id") % 5 === 4)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

    val idx = new SignLshIndex(spark,
      java.nio.file.Files.createTempDirectory("signidx_qserve").toString)
    idx.build(dayZero)

    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val served = scala.collection.mutable.ArrayBuffer.empty[Set[Seq[Any]]]
    val in = MemoryStream[(Long, Array[Float])]
    // compactEvery=1: the serve runs BEFORE the trigger's maintenance
    // compaction, and the next trigger serves off the compacted
    // segments — both orders must yield the same graph
    val q = StreamOps.indexMaintenanceServed(
      in.toDF().toDF("vec_id", "embedding"), idx, compactEvery = 1)(df =>
      served += rowSet(df)).start()
    try {
      in.addData(batchA.toSeq)
      q.processAllAvailable()
      in.addData((batchB ++ batchA.take(10)).toSeq) // replayed overlap
      q.processAllAvailable()
    } finally q.stop()

    assert(served.size == 2, s"one serve per non-empty trigger, got ${served.size}")
    def rebuildQ(corpus: org.apache.spark.sql.DataFrame) = {
      val rb = new SignLshIndex(spark,
        java.nio.file.Files.createTempDirectory("signidx_qserve_rb").toString)
      rb.build(corpus)
      rowSet(rb.annGraphQuantized())
    }
    import spark.implicits._
    val prefixA = dayZero.unionByName(batchA.toSeq.toDF("vec_id", "embedding"))
    assert(served(0) == rebuildQ(prefixA),
      "trigger 1 served a graph != prefix rebuild's quantized graph")
    assert(served(1) == rebuildQ(vecs),
      "trigger 2 served a graph != full rebuild's quantized graph")
    assert(served(1) == rowSet(idx.annGraphQuantized()),
      "post-stream index serves a different graph than its own last trigger")
  }

  test("streaming decontamination: per-batch audit equals an independent recount; replay re-emits") {
    import graft.dedup.GramIndex
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def grams(text: String): Set[String] = {
      val t = text.split(" ", -1).filter(_.nonEmpty)
      if (t.length < 8) Set.empty
      else (0 to t.length - 8).map(i => md5hex(t.slice(i, i + 8).mkString(" ")).take(16)).toSet
    }
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val base = docs.filter(_._1 % 4 == 0)
    val batch1 = docs.filter(_._1 % 4 == 1).toSeq
    // batch 2 re-crawls part of batch 1: those docs must now audit as
    // FULLY contaminated (their grams entered the store with batch 1)
    val batch2 = docs.filter(_._1 % 4 == 2).toSeq ++ batch1.take(5)

    val idx = new GramIndex(spark,
      java.nio.file.Files.createTempDirectory("gramidx_stream").toString)
    import spark.implicits._
    idx.build(base.toSeq.toDF("doc_id", "text"))

    var train = base.flatMap(d => grams(d._2)).toSet
    def runBatch(rows: Seq[(Long, String)], batchId: Long): Map[Long, (Long, Long, Double)] = {
      var emitted: Map[Long, (Long, Long, Double)] = null
      StreamOps.decontamBatch(idx, rows.toDF("doc_id", "text"), batchId)(df =>
        emitted = df.collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap)
      emitted
    }
    def recount(rows: Seq[(Long, String)]): Map[Long, (Long, Long, Double)] =
      rows.distinct.flatMap { case (id, text) =>
        val g = grams(text)
        if (g.isEmpty) None
        else {
          val hits = g.count(train).toLong
          Some(id -> ((g.size.toLong, hits, hits.toDouble / g.size)))
        }
      }.toMap

    var lastGot: Map[Long, (Long, Long, Double)] = Map.empty
    for ((rows, bid) <- Seq((batch1, 0L), (batch2, 1L))) {
      val vBefore = idx.version.get
      val expected = recount(rows)
      lastGot = runBatch(rows, bid)
      assert(lastGot == expected, s"batch $bid audit != recount")
      assert(idx.version.contains(vBefore + 1), "one delta version per batch")
      train ++= rows.flatMap(d => grams(d._2))
    }
    // the re-crawled docs in batch 2 audited FULLY contaminated
    val recrawled = batch1.take(5).filter(d => grams(d._2).nonEmpty)
    assert(recrawled.nonEmpty, "test needs re-crawled docs with grams")
    recrawled.foreach { case (id, _) =>
      val (n, hits, frac) = lastGot(id)
      assert(hits == n && frac == 1.0, s"re-crawled doc $id not fully contaminated")
    }

    // replay of batch 2 (same rows, same batchId): the journal routes
    // it to a recompute — no new version, identical emission
    val vAfter = idx.version.get
    val replayExpected = {
      // recount against the PRE-batch-2 train set, not the current one
      val preTrain = (base ++ batch1).flatMap(d => grams(d._2)).toSet
      batch2.distinct.flatMap { case (id, text) =>
        val g = grams(text)
        if (g.isEmpty) None
        else Some(id -> ((g.size.toLong, g.count(preTrain).toLong,
          g.count(preTrain).toDouble / g.size)))
      }.toMap
    }
    val replayGot = runBatch(batch2, 1L)
    assert(idx.version.contains(vAfter), "replay must not publish a new version")
    assert(replayGot == replayExpected, "replay emission drifted from the original audit")

    // the streamed index equals a from-scratch build over everything
    val rebuilt = new GramIndex(spark,
      java.nio.file.Files.createTempDirectory("gramidx_stream_rb").toString)
    rebuilt.build((base ++ batch1 ++ batch2).distinct.toSeq.toDF("doc_id", "text"))
    assert(idx.grams().collect().map(_.getString(0)).toSet ==
      rebuilt.grams().collect().map(_.getString(0)).toSet)
  }

  test("decontam, span-dedup, LM-score and quality streams emit their *Batch twins' rows " +
      "per trigger; an empty trigger emits nothing") {
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.GramIndex
    import graft.text.{BigramLmIndex, WinnowIndex}
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.streaming.DataStreamWriter
    type Sink = DataFrame => Unit
    // 10-token docs; every third one is the same boilerplate, so audits,
    // excisions and bigram counts see repeats within and across batches
    def doc(id: Long): (Long, String) = (id, (0 until 10)
      .map(t => if (id % 3 == 0) s"common$t" else s"d${id}t$t").mkString(" "))
    val batches = Seq((0L until 4L).map(doc), (4L until 8L).map(doc) :+ doc(1L))
    def docsDf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString
    def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

    // the two batches, then an empty one, through a MemoryStream
    def streamed(start: (DataFrame, Sink) => DataStreamWriter[Row]): Seq[Seq[Row]] = {
      val in = MemoryStream[(Long, String)]
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
      val q = start(in.toDF().toDF("doc_id", "text"), df => out += sorted(df)).start()
      try {
        (batches :+ Seq.empty).foreach { b => in.addData(b); q.processAllAvailable() }
        assert(q.lastProgress.batchId == 2L, "the empty batch did not trigger")
      } finally q.stop()
      out.toSeq
    }
    def twins(run: (DataFrame, Long, Sink) => Unit): Seq[Seq[Row]] =
      batches.zipWithIndex.map { case (b, i) =>
        var got = Seq.empty[Row]
        run(docsDf(b), i.toLong, df => got = sorted(df))
        got
      }
    def check(name: String, got: Seq[Seq[Row]], want: Seq[Seq[Row]]): Unit = {
      assert(want.forall(_.nonEmpty), s"$name: the fixture emits nothing")
      assert(got == want, s"$name: stream emissions != *Batch emissions")
    }

    val base = docsDf(Seq(doc(99L)))
    val (gs, gb) = (new GramIndex(spark, tmp("gram_s")), new GramIndex(spark, tmp("gram_b")))
    Seq(gs, gb).foreach(_.build(base))
    check("decontam", streamed(StreamOps.decontamStream(_, gs)(_)),
      twins(StreamOps.decontamBatch(gb, _, _)(_)))
    assert(gs.version == gb.version, "decontam: the empty trigger changed the index")

    val (ws, wb) = (new WinnowIndex(spark, tmp("win_s")), new WinnowIndex(spark, tmp("win_b")))
    Seq(ws, wb).foreach(_.build(docsDf(Nil)))
    check("span dedup", streamed(StreamOps.spanDedupStream(_, ws)(_)),
      twins(StreamOps.spanDedupBatch(wb, _, _)(_)))
    assert(ws.version == wb.version, "span dedup: the empty trigger changed the index")

    val (ls, lb) = (new BigramLmIndex(spark, tmp("lm_s")), new BigramLmIndex(spark, tmp("lm_b")))
    Seq(ls, lb).foreach(_.build(docsDf(Nil)))
    check("lm score", streamed(StreamOps.lmScoreStream(_, ls)(_)),
      twins(StreamOps.lmScoreBatch(lb, _, _)(_)))
    assert(ls.version == lb.version, "lm score: the empty trigger changed the index")

    val w = Array(0.5, -0.25, 0.75, 1.0)
    check("quality", streamed(StreamOps.qualityScoreStream(_, w)(_)),
      twins((b, _, sink) => StreamOps.qualityScoreBatch(b, w)(sink)))
  }
}
