package graft.sim

import graft.{Op, Tables, par}
import graft.functions.Int8Functions.{int8Dot, int8NormSq, int8Quantize}
import graft.functions.VectorFunctions.{floatDot, floatNorm}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-d float vectors).
  *
  * Three tiers, trading recall for scan cost:
  *  - s01 brute force: exact top-k, the correctness baseline. The
  *    query set is tiny so it broadcasts; the big side is scanned once
  *    with the dot product inside whole-stage codegen.
  *  - s02 sign-LSH: an 8-bit sign signature partitions vectors into
  *    256 buckets; probes only join their own bucket — the shuffle
  *    moves 1/256th of the pair space.
  *  - s03 IVF: coarse quantizer (label-mean centroids), probe the
  *    nearest centroid's inverted list only. Centroid means go through
  *    the decimal-exact sum (SURVEY.md §4), so the whole probe chain is
  *    bit-reproducible and SQL-oracled like the other tiers.
  */
object Similarity {
  private val TOPK = 5
  private val NQUERIES = 10

  private def embWithNorm(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .withColumn("nrm", floatNorm(col("embedding")))

  /** Rank strictly by exact cosine, ties by neighbor id — both engines
    * compute identical cosine bits (see [[Cosine]]) so the ranking is
    * deterministic.
    *
    * Selection runs as the bounded [[graft.functions.TopKAggregate]]
    * rather than a `row_number()` window: the window form sorts every
    * group's full candidate list (at sf1 that meant 32 concurrent
    * ~300 MB spilling sorts of the n² pair stream and G1 full-GC
    * stalls), the aggregate streams the same rows through k-element
    * buffers — map-side partial top-k, k rows per query over the
    * shuffle. The produced (query_id, neighbor_id, cos, rank) rows are
    * identical: the buffer's ordering is the SQL
    * `ORDER BY cos DESC, neighbor_id` total order the oracle uses.
    */
  private[sim] def topkUnordered(pairs: DataFrame, k: Int): DataFrame =
    pairs.select(col("query_id"), col("neighbor_id"), col("cos"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate.topKScored(
        col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sn")))
      .select(col("query_id"), col("sn.payload").as("neighbor_id"),
        col("sn.score").as("cos"), (col("pos") + lit(1)).as("rank"))

  private def topkPerQuery(pairs: DataFrame): DataFrame =
    topkUnordered(pairs, TOPK).orderBy(col("query_id"), col("rank"))

  // ---- s01: brute-force exact top-k ---------------------------------
  private def s01(s: SparkSession, dir: String): DataFrame = {
    val e = embWithNorm(s, dir)
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"), col("nrm").as("nq"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ec"), col("nrm").as("nc"))
    val pairs = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", floatDot(col("eq"), col("ec")) / (col("nq") * col("nc")))
    topkPerQuery(pairs)
  }

  private val s01Sql = s"""
    WITH e AS (
      SELECT vec_id, embedding, ${Cosine.normDuck("embedding")} AS nrm
      FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ${Cosine.dotDuck("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
      FROM e q JOIN e c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < $NQUERIES),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cos DESC, neighbor_id) AS rank
      FROM pairs)
    SELECT query_id, neighbor_id, cos, rank FROM ranked
    WHERE rank <= $TOPK ORDER BY query_id, rank"""

  // ---- s02: sign-LSH bucketed approximate top-k ---------------------
  // bucket = 8 sign bits of the first 8 dimensions (a fixed axis-
  // aligned hyperplane family — deterministic and SQL-expressible).
  private val bucketSpark: String =
    (1 to 8).map(i => s"(CASE WHEN element_at(embedding, $i) >= 0 THEN ${1 << (i - 1)} ELSE 0 END)")
      .mkString(" + ")

  private val bucketDuck: String =
    (1 to 8).map(i => s"(CASE WHEN embedding[$i] >= 0 THEN ${1 << (i - 1)} ELSE 0 END)")
      .mkString(" + ")

  private def s02(s: SparkSession, dir: String): DataFrame = {
    val e = embWithNorm(s, dir).withColumn("bucket", expr(bucketSpark))
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("bucket").as("qb"),
        col("embedding").as("eq"), col("nrm").as("nq"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("bucket").as("cb"),
      col("embedding").as("ec"), col("nrm").as("nc"))
    val pairs = broadcast(q)
      .join(c, col("qb") === col("cb") && col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", floatDot(col("eq"), col("ec")) / (col("nq") * col("nc")))
    topkPerQuery(pairs)
  }

  private val s02Sql = s"""
    WITH e AS (
      SELECT vec_id, embedding, ${Cosine.normDuck("embedding")} AS nrm,
        $bucketDuck AS bucket
      FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ${Cosine.dotDuck("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
      FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id < $NQUERIES),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cos DESC, neighbor_id) AS rank
      FROM pairs)
    SELECT query_id, neighbor_id, cos, rank FROM ranked
    WHERE rank <= $TOPK ORDER BY query_id, rank"""

  // ---- s03: IVF-style partitioned search ----------------------------
  private def s03(s: SparkSession, dir: String): DataFrame = {
    val e = embWithNorm(s, dir)
    // Coarse quantizer: per-label mean vector (the labels stand in
    // for k-means cells; s10 is the TRAINED form of this operator —
    // [[Kmeans.fit]] learns the cells instead of trusting a label). The
    // mean is decimal-exact-sum / count so both engines get the same
    // centroid bits regardless of partial-agg order.
    val unpacked = e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
    val centroids = unpacked.groupBy(col("label"), col("pos"))
      .agg((graft.par.dsum(col("v").cast("double"), 9) / count(lit(1))).as("cv"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), x -> x.cv)").as("centroid"))
    // Assign each probe to its nearest centroid (cosine), then search
    // only that cell's inverted list.
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"), col("nrm").as("nq"))
    val qc = broadcast(q).crossJoin(broadcast(centroids))
      .withColumn("cnorm", expr(Cosine.normSpark("centroid")))
      .withColumn("ccos", expr(Cosine.dotSpark("eq", "centroid")) / (col("nq") * col("cnorm")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("label"))))
      .filter(col("crank") === 1)
      .select(col("query_id"), col("eq"), col("nq"), col("label").as("probe_label"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("label"),
      col("embedding").as("ec"), col("nrm").as("nc"))
    val pairs = qc.join(c, col("probe_label") === col("label") &&
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", floatDot(col("eq"), col("ec")) / (col("nq") * col("nc")))
    topkPerQuery(pairs)
  }

  private val s03Sql = s"""
    WITH e AS (
      SELECT vec_id, label, embedding, ${Cosine.normDuck("embedding")} AS nrm
      FROM embeddings),
    unp AS (
      SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      FROM e, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
    cent AS (
      SELECT label, list(cv ORDER BY pos) AS centroid FROM (
        SELECT label, pos, ${par.dsumSql("v", 9)} / count(*) AS cv
        FROM unp GROUP BY label, pos)
      GROUP BY label),
    q AS (
      SELECT vec_id AS query_id, embedding AS eq, nrm AS nq
      FROM e WHERE vec_id < $NQUERIES),
    qc AS (
      SELECT query_id, probe_label FROM (
        SELECT q.query_id, c.label AS probe_label,
          row_number() OVER (PARTITION BY q.query_id ORDER BY
            ${Cosine.dotDuck("q.eq", "c.centroid")}
              / (q.nq * ${Cosine.normDuck("c.centroid")}) DESC, c.label) AS crank
        FROM q CROSS JOIN cent c)
      WHERE crank = 1),
    pairs AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
        ${Cosine.dotDuck("q.eq", "c.embedding")} / (q.nq * c.nrm) AS cos
      FROM q
      JOIN qc ON qc.query_id = q.query_id
      JOIN e c ON c.label = qc.probe_label AND c.vec_id <> q.query_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cos DESC, neighbor_id) AS rank
      FROM pairs)
    SELECT query_id, neighbor_id, cos, rank FROM ranked
    WHERE rank <= $TOPK ORDER BY query_id, rank"""

  // ---- s04: KNN graph construction ----------------------------------
  // Top-3 cosine neighbors for EVERY vector — the all-pairs edge build
  // feeding downstream graph ops (cluster the KNN graph, dedup by
  // component...). The n² pair space stays distributed: it shuffles on
  // nothing (one broadcast side), the dot product is the codegen'd
  // expression, and only k rows per vector survive the window.
  /** Exact KNN graph, materialized once per (session, corpus): s04
    * emits it and s07 reads it as the recall denominator — the exact
    * all-pairs pass (the expensive side) runs once, same amortized-
    * index pattern as d02's signature store.
    *
    * Scale bound, on purpose: `broadcast(b)` replicates the full
    * vector set, so this exact build stops at Spark's 8 GB broadcast
    * ceiling (~10M 64-d vectors). That is the documented envelope of
    * the EXACT oracle — beyond it, the recall denominator runs on a
    * sampled query set (s07's doc) against s06's bucketed path
    * ([[annGraphBucketed]]), which never broadcasts the corpus. The hint is
    * deliberate: without it the planner may build the other side and
    * stream `b`'s single input partition, recreating the one-task n²
    * tail the repartition below exists to prevent.
    */
  private def knnGraphTable(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"knngraph:$dir", "graft_knn") {
      val e = embWithNorm(s, dir)
      // Repartition the STREAM side by query_id before the broadcast
      // nested-loop join. The embeddings parquet is one small file, so
      // without this the n² pair space inherits ONE input partition and
      // every dot product plus the top-k pass lands on a single task
      // (measured at sf1: the 400M-pair build pinned one core for an
      // hour). Hashing on query_id also means the map-side partial
      // top-k emits exactly one k-row buffer per query AND the BNLJ's
      // preserved stream-side partitioning already satisfies the
      // aggregation's distribution — the n² intermediate is consumed
      // in place, never shuffled.
      // (explicit count: AQE would coalesce a column-only repartition
      // back to one partition — the stream side is tiny BEFORE the n²
      // expansion, which is exactly when it must stay spread out)
      val a = e.select(col("vec_id").as("query_id"), col("embedding").as("eq"), col("nrm").as("nq"))
        .repartition(graft.util.Par.shufflePartitions(s), col("query_id"))
      val b = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ec"), col("nrm").as("nc"))
      val pairs = a.join(broadcast(b), col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", floatDot(col("eq"), col("ec")) / (col("nq") * col("nc")))
      topkUnordered(pairs, 3)
    }

  /** The ANN KNN graph, materialized once: s06 emits it, s07 reads it.
    *
    * The family is the CALIBRATED one — (bits, tables) derived from
    * `count(embeddings)` via [[annParams]], not a fixed constant: the
    * sf1 evidence (docs/SCALE_EVIDENCE_r8.md) measured the fixed
    * 16-table × 8-bit family at 489 s vs 11.5 s for exact brute force
    * at 10× the calibration corpus (bucket occupancy n/2⁸ → candidate
    * volume → n²), i.e. an under-provisioned signature is worse than
    * no index at all. The oracle derives the identical family from the
    * same count (see the params CTE in s06Sql), so the registered
    * query stays hash-green at every scale factor.
    */
  private def annGraphTable(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"anngraph_cal:$dir", "graft_ann") {
      val e = embWithNorm(s, dir)
      val n = e.count()
      val (bits, tables) = annParamsFor(e, n)
      if (n <= annBroadcastEnvelopeRows) annGraphBroadcast(e, bits, tables)
      else annGraphBucketed(s, dir, bits, tables)
    }

  /** Corpus-rows ceiling for the broadcast candidate/rerank plan.
    *
    * The broadcast form replicates the (vec_id, t, sig) index — n × L
    * × ~24 B in-memory rows, ~4.6 GB at 1M vectors × 192 tables, i.e.
    * right under Spark's 8 GB broadcast ceiling at the family cap —
    * and the full vector sides (~300 B/vector). Past this row count
    * [[annGraphTable]] and d12 switch to the bucketed plan, which
    * broadcasts nothing (the sign-LSH index and the vectors are
    * bucketed catalog tables; the probe stream shuffles once). Both
    * plans produce identical rows (SimilaritySpec pins bit-equality
    * with autoBroadcastJoinThreshold=-1), so the switch — made on the
    * same deterministic `count()` the family calibration already
    * needs — changes the PLAN, never the answer: the same
    * adaptive-envelope pattern as [[graft.util.OrderStats]].
    */
  private[graft] val annBroadcastEnvelopeRows: Long = 1000L * 1000

  /** The in-envelope plan: broadcast index + broadcast rerank (see
    * [[signCandidatesRaw]] / [[rerankTop3]]).
    */
  private[graft] def annGraphBroadcast(e: DataFrame, bits: Int, tables: Int): DataFrame =
    rerankTop3(e, signCandidatesRaw(e, scaledDimGroups(bits, tables), scaledProbeMasks(bits)))

  /** The past-the-envelope plan: nothing broadcast, nothing
    * driver-sized — the 100 TB shape of the ANN KNN graph.
    */
  private[graft] def annGraphBucketed(s: SparkSession, dir: String,
      bits: Int, tables: Int): DataFrame =
    rerankTop3From(bucketedVecs(s, dir),
      signCandidatesBucketed(s, dir, bits, tables))

  /** The corpus as a catalog table bucketed+sorted on vec_id — the
    * ingest-time layout a cluster-scale embedding store maintains.
    * Every vector fetch keyed on vec_id (the bucketed rerank's two
    * joins, d12's pair hydration) then plans without an Exchange on
    * the vector side, replacing [[rerankTop3]]'s broadcasts. The
    * bucketed scan is also naturally spread across buckets, which
    * retires the explicit repartition the single-row-group corpus
    * parquet otherwise needs.
    */
  private[graft] def bucketedVecs(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.bucketedTable(s, s"annvecs:$dir", "graft_annvec",
      "vec_id", graft.util.Par.shufflePartitions(s))(embWithNorm(s, dir))

  /** The candidate join + canonicalization from prepared probe and
    * index streams — the ONE pipeline behind both no-broadcast
    * candidate paths ([[signCandidatesBucketed]] over the session's
    * bucketed catalog tables, and [[SignLshIndex.annGraph]] over the
    * index's stored segments), so a planner-trap fix lands in both by
    * construction.
    *
    * `probes` is (query_id, tsig) — one row per (vector, table, probe
    * mask); `index` is (neighbor_id, tsig).
    *
    * SHUFFLE_HASH hint, index side as build: the strategy must not
    * depend on size estimates — the probe side's estimate is the
    * column-pruned vector file (~1 MB at sf3) but the explode
    * multiplies rows tables×(1+bits), and the planner, left alone,
    * chose to BROADCAST the 172M-row probe stream and died on the
    * 8 GiB cap (measured at sf3, default session config). The hash
    * join consumes a bucketed index layout with zero exchange on its
    * side (per-partition build = one bucket's slice; a non-bucketed
    * index pays one narrow shuffle instead), shuffles the probes
    * exactly once, and never sorts either stream.
    *
    * Output is CANONICAL unordered pairs (query_id < neighbor_id):
    * the candidate relation is symmetric — sig_q XOR m == sig_n iff
    * sig_n XOR m == sig_q, and both endpoints probe the identical
    * mask set over the identical family — so keeping one direction
    * loses nothing and HALVES both the distinct's shuffle and the
    * re-rank's wide exchange ([[rerankTop3From]] re-expands after the
    * cosine is computed once per unordered pair).
    */
  private[graft] def candidatePairsCanonical(probes: DataFrame,
      index: DataFrame): DataFrame =
    probes.join(index.hint("shuffle_hash"), Seq("tsig"))
      .filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()

  /** DISTINCT canonical candidate pairs (query_id < neighbor_id)
    * through a (t, sig)-bucketed signature index —
    * [[signCandidatesRaw]]'s scale form, per that doc's own
    * cluster-deployment note. No broadcast anywhere:
    *
    *  - the index is a catalog table bucketed+sorted on the combined
    *    key `tsig = t · 2^bits + sig` (one bucketing shuffle at build,
    *    amortized across probes by the MatStore session memo) — the
    *    index side of the candidate join plans with ZERO exchanges at
    *    any index size;
    *  - the probe stream explodes tables × masks in place over the
    *    bucketed vector scan (already spread — no repartition needed)
    *    and shuffles ONCE, on tsig, into the index's buckets;
    *  - the surviving pairs pay one map-side-partial `distinct` —
    *    unlike the broadcast path there is no query_id-clustered
    *    partitioning to absorb duplicates for free, and deduping the
    *    narrow (query_id, neighbor_id) stream BEFORE the vector joins
    *    keeps the wide rows (vectors attached) off every later
    *    exchange. Canonicalization (see [[candidatePairsCanonical]])
    *    halves the deduped stream again.
    */
  private[graft] def signCandidatesBucketed(s: SparkSession, dir: String,
      bits: Int, tables: Int): DataFrame = {
    val p2 = 1L << bits
    val sigArray = sigArrayExpr(scaledDimGroups(bits, tables))
    val masks = scaledProbeMasks(bits)
    val nb = graft.util.Par.shufflePartitions(s)
    val index = graft.util.MatStore.bucketedTable(s,
        s"annsigidx${bits}x$tables:$dir", "graft_annidx", "tsig", nb) {
      bucketedVecs(s, dir)
        .select(col("vec_id").as("neighbor_id"), explode(sigArray).as("ts"))
        .select(col("neighbor_id"),
          (col("ts.t").cast("long") * p2 + col("ts.sig")).as("tsig"))
    }
    val probes = bucketedVecs(s, dir)
      .select(col("vec_id").as("query_id"), explode(sigArray).as("ts"))
      .select(col("query_id"), col("ts.t").as("t"),
        explode(array(masks.map(lit): _*)).as("m"), col("ts.sig").as("sig"))
      .select(col("query_id"),
        (col("t").cast("long") * p2 + col("sig").bitwiseXOR(col("m"))).as("tsig"))
    candidatePairsCanonical(probes, index)
  }

  /** Exact cosine re-rank of CANONICAL candidate pairs (query_id <
    * neighbor_id, from [[candidatePairsCanonical]]) against an
    * arbitrary (vec_id, embedding, nrm) vector store — [[rerankTop3]]
    * without the broadcasts, shared by the bucketed corpus path and
    * [[SignLshIndex.annGraph]].
    *
    * SHUFFLE_HASH hints with the VECTOR side as build, for two
    * reasons both measured at sf3 (60k vectors, default config):
    * (a) the strategy must not depend on size estimates — left
    * alone, the planner broadcast a pair-stream intermediate and
    * died on the 8 GiB cap; (b) sort-merge SORTS the streamed side,
    * and the pair stream with an embedding attached is ~300 B/row —
    * its external sort spilled ~90 GB and filled the disk. A
    * shuffled-hash join builds a hash of the per-partition vector
    * slice (n / buckets rows — bounded by the ingest-time bucket
    * count when `vecs` is a bucketed catalog table, which also makes
    * the vector side exchange-free) and STREAMS the pairs through
    * unsorted; the downstream top-k is a hash aggregate, so no
    * operator ever sorts the wide stream.
    *
    * The one wide exchange (pair + neighbor embedding, ~300 B ×
    * |canonical pairs|) is the path's inherent cost center — but the
    * canonical-pair contract HALVES it vs the directed form: the
    * cosine is computed ONCE per unordered pair (bit-identical both
    * ways — the per-index double products and their accumulation
    * order don't change under operand swap, and neither does the
    * norm product) and only then re-expanded to both directions, so
    * the wide exchange moves |pairs|/2 rows where the directed
    * pipeline moved |pairs|. The price is that the final top-3
    * aggregate is no longer exchange-free — the re-expanded stream is
    * partitioned on the canonical (smaller) id only — but what that
    * exchange moves is the map-side partial top-k BUFFERS (≤ 3 rows ×
    * 24 B per (task, query)), a narrow summary stream, not the pair
    * stream.
    */
  private[graft] def rerankTop3From(vecs: DataFrame,
      cands: DataFrame): DataFrame = {
    def vecsAs(idCol: String, embCol: String, nrmCol: String) =
      vecs.select(col("vec_id").as(idCol),
        col("embedding").as(embCol), col("nrm").as(nrmCol))
    val scored = cands
      .join(vecsAs("neighbor_id", "ec", "nc").hint("shuffle_hash"), Seq("neighbor_id"))
      .join(vecsAs("query_id", "eq", "nq").hint("shuffle_hash"), Seq("query_id"))
      .withColumn("cos", floatDot(col("eq"), col("ec")) / (col("nq") * col("nc")))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    // re-expand the unordered pair to both directions AFTER the wide
    // joins — 48 B/row from here on, and the top-k partials absorb it
    val directed = scored
      .select(explode(array(
        struct(col("query_id"), col("neighbor_id"), col("cos")),
        struct(col("neighbor_id").as("query_id"),
          col("query_id").as("neighbor_id"), col("cos")))).as("d"))
      .select(col("d.query_id").as("query_id"),
        col("d.neighbor_id").as("neighbor_id"), col("d.cos").as("cos"))
    directed
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate.topKScored(
        col("cos"), col("neighbor_id"), 3).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sn")))
      .select(col("query_id"), col("sn.payload").as("neighbor_id"),
        col("sn.score").as("cos"), (col("pos") + lit(1)).as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  private def s04(s: SparkSession, dir: String): DataFrame =
    knnGraphTable(s, dir).orderBy(col("query_id"), col("rank"))

  private val s04Sql = s"""
    WITH e AS (
      SELECT vec_id, embedding, ${Cosine.normDuck("embedding")} AS nrm
      FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ${Cosine.dotDuck("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
      FROM e q JOIN e c ON q.vec_id <> c.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cos DESC, neighbor_id) AS rank
      FROM pairs)
    SELECT query_id, neighbor_id, cos, rank FROM ranked
    WHERE rank <= 3 ORDER BY query_id, rank"""

  // ---- s06: bucketed KNN graph (LSH candidates + exact re-rank) -----
  // The scale path for s04: instead of the n² pair space, candidates
  // come from a family of sign-LSH tables with 1-bit multi-probe on
  // the query side; only candidates get the exact cosine and the
  // bounded top-3 aggregate. The signature index is narrow (vec_id,
  // table, sig) — vectors are fetched only for surviving distinct
  // pairs. Pair cost is Σ buckets |b|² per table
  // (~L·(probes)·n²/2^bits), not n².
  //
  // (bits, tables) are NOT constants: they derive deterministically
  // from the corpus size via [[annParams]], so the same registered
  // query runs the right-sized family at every scale factor — and the
  // oracle rederives the identical family from count(embeddings).

  /** Calibrated (bits, tables) for a corpus of n vectors.
    *
    * bits = clamp(floor(log2 n) − 1, 8, 16): per-bucket occupancy
    * n/2^bits stays in [2, 4), holding the per-table candidate volume
    * linear in n. tables follows the measured retention curve — each
    * +1 bit multiplies a true neighbor's per-table collision odds by
    * ~p (the corpus' per-bit sign-agreement), so L must grow
    * geometrically (classic LSH L ~ n^ρ) to hold Σ-table recall.
    * Anchors are MEASURED recall@3 vs the exact graph on the real
    * embeddings (s07 and SimilaritySpec's recall tests):
    * 8/24 → 0.87–0.89 (n=500, both small corpora), 9/32 → 0.873
    * (n=2000), 13/128 → 0.824 (n=20000), 14/192 → 0.832 (n=60000);
    * in-between L values interpolate the same ~1.4×/bit growth.
    * The map caps at (16, 192) — the largest family the calibration
    * curve has measured; past n = 2^17 every index entry point
    * ([[annGraphTable]], [[SignLshIndex.build]]) routes through
    * [[annParamsFor]] to the measured-retention solver
    * [[annParamsProbed]] instead (validated against all four anchors
    * here — SimilaritySpec), with this map as the fast path below the
    * threshold.
    */
  def annParams(n: Long): (Int, Int) = {
    require(n > 0, "annParams needs a non-empty corpus")
    val floorLog2 = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val bits = math.max(8, math.min(16, floorLog2 - 1))
    val tables = bits match {
      case 8 => 24; case 9 => 32; case 10 => 48; case 11 => 64
      case 12 => 96; case 13 => 128; case _ => 192
    }
    (bits, tables)
  }

  /** Largest table count the registered family can reach — the SQL
    * mirror materializes exactly this many signature branches.
    */
  private val AnnMaxTables = 192

  /** The L ladder the calibration map draws from, extended
    * geometrically (~1.4×/step) past the map's reach for
    * [[annParamsProbed]].
    */
  private[graft] val AnnTableLadder: Seq[Int] =
    Seq(16, 24, 32, 48, 64, 96, 128, 192, 256, 384, 512, 768, 1024)

  /** Number of family tables the retention probe samples. The probe
    * tables are the REAL family's first 1024 (same seeded draws), so
    * the measured retention is over the distribution the solved L
    * will instantiate. 1024 because the quantity being estimated is
    * SMALL: at 13+ bits a true pair's per-table retention is ~1%, so
    * a 32-table probe sees zero hits for most pairs and the per-pair
    * model floors them at unreachable (measured: it solved L=1024
    * against the 128 anchor at sf1). 1024 probes put ~10 hits on a
    * typical pair at the smallest retentions the ladder serves, and
    * the probe's cost is per sampled PAIR (~1.2k rows), not per
    * corpus row.
    */
  private val ProbeTables = 1024

  /** MEASURED-retention family solver — the documented method for
    * corpora past the calibration map's 2^17 reach, now runnable:
    * solve (bits, tables) from a per-pair retention probe instead of
    * the anchor table.
    *
    *  - `bits` follows the same occupancy rule as [[annParams]]
    *    (clamp(floor(log2 n) − 1, 8, 31): per-bucket occupancy stays
    *    in [2, 4)) but WITHOUT the map's 16-bit cap — the cap existed
    *    because tables beyond it had no measured anchor, which is
    *    exactly what the probe supplies.
    *  - `tables` is solved from data: take a deterministic ~400-query
    *    sample, build its EXACT top-3 (broadcast sample × corpus —
    *    linear in n, the s07 sampled-recall shape), and measure each
    *    true pair's per-table retention r_i = fraction of 32 real
    *    family tables where the pair's signatures are within Hamming
    *    distance 1 (the 0/1-bit multi-probe's hit condition) — a
    *    direct measurement, so dim correlations and the corpus' angle
    *    distribution are priced in with no independence assumption
    *    across bits. Predicted recall at L tables is
    *    mean_i(1 − (1 − r_i)^L) (tables are independent draws);
    *    the smallest ladder L meeting `targetRecall` wins.
    *
    * Driver state is the sampled pairs' retention scalars (~1.2k
    * doubles) — nothing corpus-sized. Validated against all four
    * measured anchors in SimilaritySpec: the solved L lands within
    * one ladder step of the anchor at every shipped corpus.
    */
  def annParamsProbed(s: SparkSession, dir: String,
      targetRecall: Double = 0.80): (Int, Int) = {
    val e = embWithNorm(s, dir)
    annParamsProbedOf(e, e.count(), targetRecall)
  }

  /** Calibration-map reach: corpora at or below this row count resolve
    * their family through the MEASURED-anchor map [[annParams]] (whose
    * largest anchor is the 2^17-adjacent sf3 corpus); larger corpora
    * route through the retention-probe solver — the map has no
    * measured anchor past its cap, which is exactly the regime the
    * probe exists for. Every shipped scale factor sits below this
    * threshold, so the REGISTERED s06/d12 oracles (which mirror the
    * map's integer CASEs) are untouched: past 2^17 the library path is
    * self-calibrating and its exactness evidence is the probe-anchor
    * spec plus the recall gate, not a DuckDB mirror of the solver.
    * Overridable for tests via -Dgraft.ann.calibratedMaxRows.
    */
  private[graft] def annCalibratedMaxRows: Long =
    sys.props.get("graft.ann.calibratedMaxRows").map(_.toLong)
      .getOrElse(1L << 17)

  /** The family for a corpus of n vectors, routed by [[annCalibratedMaxRows]]:
    * the anchor map below the threshold (free — no extra pass), the
    * measured-retention solver above it. This is the ONE resolution
    * path every index entry point uses ([[annGraphTable]] behind
    * s06/s07, [[SignLshIndex.build]]), so a past-the-map corpus can
    * never silently run the capped (16, 192) family the sf1 evidence
    * showed under-provisioning turns into worse-than-brute-force.
    */
  private[graft] def annParamsFor(e: DataFrame, n: Long): (Int, Int) =
    if (n <= annCalibratedMaxRows) annParams(n)
    else annParamsProbedOf(e, n, 0.80)

  /** [[annParamsProbed]] on an already-normed (vec_id, embedding, nrm)
    * frame — shared with [[SignLshIndex.build]], which holds its corpus
    * as a DataFrame rather than a table directory.
    */
  private[graft] def annParamsProbedOf(e: DataFrame, n: Long,
      targetRecall: Double): (Int, Int) = {
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall out of (0, 1): $targetRecall")
    require(n > 0, "annParamsProbed needs a non-empty corpus")
    val floorLog2 = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val bits = math.max(8, math.min(31, floorLog2 - 1))

    // deterministic ~400-query sample; exact top-3 via broadcast
    // sample × corpus (linear in n)
    val mod = math.max(1L, n / 400L)
    val q = e.filter(col("vec_id") % mod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"),
        col("nrm").as("nq"))
    val c = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ec"), col("nrm").as("nc"))
    // rank the narrow (query_id, neighbor_id, cos) stream only: the
    // window sorts every (query, corpus) pair, and carrying both
    // embeddings into that sort spilled ~18 GB for a 67 MB corpus;
    // the embeddings join back for the ~3 × 400 winners
    val pairs = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (floatDot(col("eq"), col("ec")) / (col("nq") * col("nc"))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val winners = pairs
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
    val top = c.select(col("neighbor_id"), col("ec"))
      .join(broadcast(winners), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("eq"))), Seq("query_id"))

    // per-pair retention over the family's first ProbeTables tables
    val groups = scaledDimGroups(bits, ProbeTables)
    def sigs(embCol: String) = array(groups.map(dims =>
      graft.functions.VectorFunctions.floatSignBits(col(embCol), dims)): _*)
    val retention = top
      .withColumn("hits", zip_with(sigs("eq"), sigs("ec"),
        (a, b) => when(bit_count(a.bitwiseXOR(b)) <= 1, 1).otherwise(0)))
      .select((aggregate(col("hits"), lit(0), (acc, x) => acc + x)
        .cast("double") / lit(ProbeTables.toDouble)).as("r"))
      .collect().map(_.getDouble(0))

    require(retention.nonEmpty,
      s"retention probe found no (query, true-neighbor) pairs (n=$n) — " +
        "the solver needs a corpus with at least 2 vectors")
    def predictedRecall(tables: Int): Double =
      retention.map(r => 1.0 - math.pow(1.0 - r, tables)).sum / retention.length
    val tables = AnnTableLadder.find(predictedRecall(_) >= targetRecall)
      .getOrElse(AnnTableLadder.last)
    (bits, tables)
  }

  // (Spark-side signatures are the codegen'd FloatVecSignBits — same
  // `>= 0` per-dim bit semantics as the DuckDB CASE-sum form)

  /** One codegen'd constant-loop signature per table (not a CASE-sum
    * SQL string: at 96+ tables x 13 bits that string form blew the
    * 64 KB generated-method limit and fell back to interpreted).
    */
  private[sim] def sigArrayExpr(groups: Seq[Seq[Int]]) =
    array(groups.zipWithIndex.map { case (dims, t) =>
      struct(lit(t).as("t"),
        graft.functions.VectorFunctions.floatSignBits(col("embedding"), dims).as("sig"))
    }: _*)

  /** RAW candidate pair stream (query_id, neighbor_id), WITH
    * duplicates — one row per (table, probe) hit. The plan is
    * deliberately shuffle-free (measured at sf1: the join-then-
    * `distinct()` form moved the ~90M-pair stream through two full
    * exchanges and cost 158 s where exact brute force costs 5 s):
    *
    *  - the narrow (vec_id, t, sig) INDEX side is broadcast — ~16 B
    *    per (vector, table), so ~40 MB at sf1's 20k × 128 family
    *    (past [[annBroadcastEnvelopeRows]] the registered plan
    *    switches to [[signCandidatesBucketed]], which bucket-
    *    partitions the index by (t, sig) and shuffles the probe
    *    stream once);
    *  - the PROBE side starts from the vectors repartitioned by
    *    vec_id (the corpus parquet is a single unsplittable row
    *    group — without the explicit spread the whole stream runs on
    *    one task) and explodes tables × masks IN PLACE;
    *  - downstream consumers absorb duplicates instead of paying a
    *    dedup shuffle: the KNN graph ranks through the
    *    distinct-payload top-k buffer, d12 filters by exact cosine
    *    FIRST and dedups only the tiny survivor set.
    */
  private[graft] def signCandidatesRaw(e: DataFrame, groups: Seq[Seq[Int]],
      masks: Seq[Int]): DataFrame = {
    val s = e.sparkSession
    val sigArray = sigArrayExpr(groups)
    val index = e.select(col("vec_id").as("neighbor_id"), explode(sigArray).as("ts"))
      .select(col("neighbor_id"), col("ts.t").as("nt"), col("ts.sig").as("nsig"))
    val probes = e.repartition(graft.util.Par.shufflePartitions(s), col("vec_id"))
      .select(col("vec_id").as("query_id"), explode(sigArray).as("ts"))
      .select(col("query_id"), col("ts.t").as("t"),
        explode(array(masks.map(lit): _*)).as("m"), col("ts.sig").as("sig"))
      .select(col("query_id"), col("t"), col("sig").bitwiseXOR(col("m")).as("psig"))
    probes.join(broadcast(index),
        col("t") === col("nt") && col("psig") === col("nsig") &&
          col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Exact cosine re-rank of the RAW candidate stream to a top-3
    * graph: vectors join map-side (both sides broadcast), duplicate
    * pairs are absorbed by the distinct-payload top-k buffer, and —
    * because the probe stream is pre-partitioned by query_id — the
    * partial buffers are final: ZERO exchanges over the pair stream.
    */
  private def rerankTop3(e: DataFrame, rawCands: DataFrame): DataFrame = {
    val q = e.select(col("vec_id").as("query_id"), col("embedding").as("eq"), col("nrm").as("nq"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ec"), col("nrm").as("nc"))
    val pairs = rawCands
      .join(broadcast(q), Seq("query_id")).join(broadcast(c), Seq("neighbor_id"))
      .withColumn("cos", floatDot(col("eq"), col("ec")) / (col("nq") * col("nc")))
    pairs.select(col("query_id"), col("neighbor_id"), col("cos"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate.topKScoredDistinct(
        col("cos"), col("neighbor_id"), 3).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sn")))
      .select(col("query_id"), col("sn.payload").as("neighbor_id"),
        col("sn.score").as("cos"), (col("pos") + lit(1)).as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  private def s06(s: SparkSession, dir: String): DataFrame =
    annGraphTable(s, dir).orderBy(col("query_id"), col("rank"))

  // ---- bits-parametrized family: the documented scale knob, runnable -
  // Table t draws its `bits` dims as the prefix of a seeded
  // Fisher-Yates shuffle of 0..63 (seed = t): distinct within a table
  // by construction, decorrelated across tables because the draws are
  // independent random subsets. Growing `bits` by log2(n growth) holds per-bucket
  // occupancy n/2^bits constant, which holds candidate cost per query
  // constant while n grows — SimilaritySpec records the measured data
  // point (sf0.1 has 4× the vectors of sf0.01: +2 bits cuts candidate
  // pairs while keeping recall@3 over the gate).
  def scaledDimGroups(bits: Int, tables: Int = 16): Seq[Seq[Int]] = {
    require(bits <= 31 && bits >= 1, s"bits out of range: $bits")
    // Independent shuffle per table (fixed seed = table id, so the
    // family is deterministic). An arithmetic-progression family
    // ((7t+13j) mod 64) was tried first and measured recall 0.56 where
    // theory said 0.88: its tables share runs of ALIGNED dims (t and
    // t+2 overlap in 4 consecutive bit positions), so the L tables
    // behave like far fewer independent ones. Random draws overlap too
    // (they must, 64 physical dims), but not in aligned runs.
    (0 until tables).map { t =>
      val rnd = new java.util.Random(t)
      val arr = Array.range(0, 64) // Fisher-Yates
      for (i <- 63 to 1 by -1) {
        val j = rnd.nextInt(i + 1)
        val tmp = arr(i); arr(i) = arr(j); arr(j) = tmp
      }
      arr.take(bits).toSeq
    }
  }

  /** 0-flip + every 1-flip probe, query side. */
  private[graft] def scaledProbeMasks(bits: Int): Seq[Int] = 0 +: (0 until bits).map(1 << _)

  /** Oracle mirror of the calibrated family. The family must be a pure
    * function of the corpus so BOTH engines rederive it at any scale
    * factor:
    *  - `prm` recomputes [[annParams]] from count(embeddings) with
    *    integer threshold CASEs (no FP log2);
    *  - every table's 16-bit master signature is materialized as a
    *    CASE-sum over the SAME seeded Fisher–Yates dims the Scala side
    *    draws — and because each table's dims at b bits are the PREFIX
    *    of its 16-bit draw, masking the master signature to the low
    *    `bits` (`s16 % p2`) reproduces FloatVecSignBits exactly;
    *  - probe masks are the 0-flip plus every 1-flip below p2.
    */
  /** The family CTE chain, `e` through `cand(query_id, neighbor_id)`
    * — shared verbatim by s06Sql, s07Sql and the d12 near-dup scale
    * variant so every ANN-candidate oracle rederives the one family.
    */
  private[graft] val annCandidateCtes: String = {
    val master = scaledDimGroups(16, AnnMaxTables)
    def sig16Expr(dims: Seq[Int]): String =
      dims.zipWithIndex.map { case (d, j) =>
        s"(CASE WHEN embedding[${d + 1}] >= 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
    val sigSelects = master.zipWithIndex.map { case (dims, t) =>
      s"SELECT vec_id, $t AS t, ${sig16Expr(dims)} AS s16 FROM e WHERE $t < (SELECT l FROM prm)"
    }.mkString("\n      UNION ALL ")
    val bitsCase = (8 to 15).map(b => s"WHEN n < ${1L << (b + 2)} THEN $b").mkString(" ")
    val tablesCase = "CASE bits WHEN 8 THEN 24 WHEN 9 THEN 32 WHEN 10 THEN 48" +
      " WHEN 11 THEN 64 WHEN 12 THEN 96 WHEN 13 THEN 128 ELSE 192 END"
    val p2Case = (8 to 16).map(b => s"WHEN $b THEN ${1 << b}").mkString("CASE bits ", " ", " END")
    val maskValues = (0 +: (0 until 16).map(1 << _)).map(m => s"($m)").mkString(",")
    s"""e AS (
      SELECT vec_id, embedding, ${Cosine.normDuck("embedding")} AS nrm
      FROM embeddings),
    prm AS (
      SELECT bits, $tablesCase AS l, $p2Case AS p2 FROM (
        SELECT CASE $bitsCase ELSE 16 END AS bits
        FROM (SELECT count(*) AS n FROM embeddings))),
    sig16 AS (
      $sigSelects),
    sig AS (
      SELECT vec_id, t, s16 % (SELECT p2 FROM prm) AS sig FROM sig16),
    probe AS (
      SELECT s.vec_id AS query_id, s.t, xor(s.sig, m.m) AS psig
      FROM sig s, (VALUES $maskValues) AS m(m)
      WHERE m.m = 0 OR m.m < (SELECT p2 FROM prm)),
    cand AS (
      SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
      FROM probe p JOIN sig c ON c.t = p.t AND c.sig = p.psig
        AND c.vec_id <> p.query_id)"""
  }

  private val s06Sql: String = {
    s"""
    WITH $annCandidateCtes,
    pairs AS (
      SELECT cd.query_id, cd.neighbor_id,
        ${Cosine.dotDuck("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
      FROM cand cd
      JOIN e q ON q.vec_id = cd.query_id
      JOIN e c ON c.vec_id = cd.neighbor_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cos DESC, neighbor_id) AS rank
      FROM pairs)
    SELECT query_id, neighbor_id, cos, rank FROM ranked
    WHERE rank <= 3 ORDER BY query_id, rank"""
  }

  // ---- s07: KNN-graph recall gate (s06 vs exact s04) ----------------
  // The number that makes s06 shippable: per query, |approx top-3 ∩
  // exact top-3| / 3. At 100 TB the exact side runs on a sampled
  // query set; here both sides are full and oracle-checked.
  private def s07(s: SparkSession, dir: String): DataFrame = {
    val exact = knnGraphTable(s, dir).select(col("query_id"), col("neighbor_id"))
    val approx = annGraphTable(s, dir)
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
    exact.join(approx,
        col("query_id") === col("q2") && col("neighbor_id") === col("n2"), "left")
      .groupBy(col("query_id"))
      .agg((count(col("q2")).cast("double") / lit(3.0)).as("recall_at_3"))
      .orderBy(col("query_id"))
  }

  private val s07Sql = s"""
    WITH exact AS ($s04Sql), approx AS ($s06Sql)
    SELECT e.query_id,
      CAST(count(a.query_id) AS DOUBLE) / CAST(3 AS DOUBLE) AS recall_at_3
    FROM exact e
    LEFT JOIN approx a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id"""

  // ---- s05: ANN recall\@k against the exact baseline -----------------
  // The metric that decides whether an ANN index is usable: per query,
  // |approx top-k ∩ exact top-k| / k. Composes the s01 and s02 plans —
  // at 100 TB this is run on a sampled query set, and both sides are
  // the already-optimized tiered searches.
  private def s05(s: SparkSession, dir: String): DataFrame = {
    val exact = s01(s, dir).select(col("query_id"), col("neighbor_id"))
    val approx = s02(s, dir)
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
    exact.join(approx,
        col("query_id") === col("q2") && col("neighbor_id") === col("n2"), "left")
      .groupBy(col("query_id"))
      .agg((count(col("q2")).cast("double") / lit(TOPK.toDouble)).as("recall_at_5"))
      .orderBy(col("query_id"))
  }

  private val s05Sql = s"""
    WITH exact AS ($s01Sql), approx AS ($s02Sql)
    SELECT e.query_id,
      CAST(count(a.query_id) AS DOUBLE) / CAST($TOPK AS DOUBLE) AS recall_at_5
    FROM exact e
    LEFT JOIN approx a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id"""

  // ---- s08: int8-quantized search + recall witness ------------------
  /** Top-k search over an int8-QUANTIZED vector store — the memory
    * lever for a 100 TB embedding corpus: per-vector symmetric scalar
    * quantization (`q_i = round(127·x_i / max|x|)`) shrinks the store
    * 4× vs float32 (8× vs the float64 the rerank would otherwise
    * hydrate), which is the difference between an executor caching
    * 2M and 8M vectors per GB — and at cluster scale between the
    * candidate hydration exchange fitting in memory or spilling
    * (the r10 sf3 experiment's ~90 GB failure mode was exactly that
    * wide exchange). Quantization is orthogonal to candidate
    * generation: at scale the s06 bucketed-LSH path produces the
    * pairs and the quantized store serves the rerank; here the s01
    * probe-set brute force (same documented broadcast envelope)
    * exercises the arithmetic end-to-end.
    *
    * Determinism, the reason this is oracle-checkable at all: the
    * quantized dot and the squared norms are INTEGER sums
    * (order-independent — no float accumulation anywhere in the hot
    * path), each bounded far below 2⁵³ for 64-d int8 vectors, and the
    * final `qdot / √(qa²·qb²)` is three correctly-rounded IEEE ops on
    * exact integers, so both engines produce identical bits with no
    * fold-order pinning needed (contrast [[Cosine]]'s left-fold
    * contract for the float path). Zero vectors quantize to the zero
    * vector and score a −2 sentinel (below any cosine), keeping the
    * CASE identical in both engines. The per-query recall against the
    * exact float-cosine top-5 (s01 composed as a CTE, s05's pattern)
    * rides along as the accuracy witness: int8 is a lossy code, and
    * the recall column is the measured price.
    *
    * The kernel is the CODEGEN int8 family
    * ([[graft.functions.Int8VecDot]] and friends) over BinaryType
    * vectors — one byte per component on the wire (the actual 4×
    * shrink), a tight generated loop per pair (the HOF
    * `aggregate(sequence(...))` form this replaced evaluated its
    * lambda interpreted per element — the r9 t08 defect class), and
    * bit-identical quantization (HALF_UP through the decimal repr,
    * see [[graft.functions.Int8Ops.roundHalfUpToByte]]), so the
    * oracle SQL is unchanged. s09 composes the same store with the
    * bucketed LSH candidates — the at-scale rerank this probe-set
    * query exercises the arithmetic for.
    */
  /** The int8-quantized corpus: (vec_id, qv binary, qn2 bigint). */
  private def quantEmb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .withColumn("qv", int8Quantize(col("embedding")))
      .withColumn("qn2", int8NormSq(col("qv")))

  /** Quantized cosine from int8 parts — the shared scoring CASE. */
  private def qcosExpr =
    when(col("qa2") > 0 && col("qb2") > 0,
      int8Dot(col("qa"), col("qb")).cast("double") /
        sqrt((col("qa2") * col("qb2")).cast("double")))
      .otherwise(lit(-2.0))

  private def s08(s: SparkSession, dir: String): DataFrame = {
    val qe = quantEmb(s, dir)
    val q = qe.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"), col("qn2").as("qa2"))
    val c = qe.select(col("vec_id").as("neighbor_id"), col("qv").as("qb"), col("qn2").as("qb2"))
    val pairs = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", qcosExpr)
    // qtop is consumed twice (recall denominator + final join); pin
    // the ≤|probes|·k-row result so the quantized all-pairs pass runs
    // once, not once per consumer (t12's pinned-sketch pattern).
    // localCheckpoint truncates lineage onto executor-local blocks —
    // an executor loss fails the query instead of recomputing; the
    // right trade for a ≤50-row summary (see t12's note)
    val qtop = topkUnordered(pairs, TOPK)
      .withColumnRenamed("cos", "qcos")
      .localCheckpoint()
    // both join sides are ≤|probes|·k rows by construction — broadcast
    // them so no corpus-independent bookkeeping join ever sorts
    val exact = s01(s, dir)
      .select(col("query_id").as("qe_id"), col("neighbor_id").as("ne_id"))
    val rec = qtop
      .join(broadcast(exact),
        col("query_id") === col("qe_id") && col("neighbor_id") === col("ne_id"), "left")
      .groupBy(col("query_id"))
      .agg((count(col("qe_id")).cast("double") / lit(TOPK.toDouble)).as("recall_at_5"))
    qtop.join(broadcast(rec), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("qcos"), col("rank"),
        col("recall_at_5"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** DuckDB mirror of the int8 quantization chain, ending at
    * `qn(vec_id, qv, qn2)` — shared by s08Sql and s09Sql. The CASE /
    * round / integer-sum forms are the bit-parity twins of
    * [[graft.functions.Int8Ops]].
    */
  private val quantCtesDuck = s"""base AS (
      SELECT vec_id, embedding,
        list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, len(embedding) + 1),
          i -> abs(CAST(embedding[i] AS DOUBLE))), (x, y) -> greatest(x, y)) AS maxabs
      FROM embeddings),
    qe AS (
      SELECT vec_id,
        list_transform(range(1, len(embedding) + 1),
          i -> CASE WHEN maxabs = 0.0 THEN CAST(0 AS BIGINT)
               ELSE CAST(round(CAST(embedding[i] AS DOUBLE) * 127.0 / maxabs) AS BIGINT) END) AS qv
      FROM base),
    qn AS (
      SELECT vec_id, qv,
        list_reduce([CAST(0 AS BIGINT)] || list_transform(qv, x -> x * x), (x, y) -> x + y) AS qn2
      FROM qe)"""

  /** DuckDB quantized-cosine CASE over qn rows aliased q (query side)
    * and c (neighbor side) — shared by s08Sql and s09Sql.
    */
  private val qcosDuck = s"""CASE WHEN q.qn2 > 0 AND c.qn2 > 0 THEN
          CAST(list_reduce([CAST(0 AS BIGINT)] || list_transform(
              range(1, least(len(q.qv), len(c.qv)) + 1), i -> q.qv[i] * c.qv[i]),
            (x, y) -> x + y) AS DOUBLE)
            / sqrt(CAST(q.qn2 * c.qn2 AS DOUBLE))
        ELSE -2.0 END"""

  private val s08Sql = s"""
    WITH $quantCtesDuck,
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        $qcosDuck AS qcos
      FROM qn q JOIN qn c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < $NQUERIES),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY qcos DESC, neighbor_id) AS rank
      FROM pairs),
    qtop AS (SELECT query_id, neighbor_id, qcos, rank FROM ranked WHERE rank <= $TOPK),
    exact AS ($s01Sql),
    rec AS (
      SELECT t.query_id,
        CAST(count(e.query_id) AS DOUBLE) / CAST($TOPK AS DOUBLE) AS recall_at_5
      FROM qtop t LEFT JOIN exact e
        ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
      GROUP BY t.query_id)
    SELECT t.query_id, t.neighbor_id, t.qcos, t.rank, r.recall_at_5
    FROM qtop t JOIN rec r ON r.query_id = t.query_id
    ORDER BY t.query_id, t.rank"""

  // ---- s09: quantized rerank over bucketed LSH candidates -----------
  /** The corpus' int8 store as a vec_id-bucketed catalog table:
    * (vec_id, qv binary, qn2 bigint) — 72 B of vector payload where
    * the float store carries ~280 B (UnsafeRow array<float> + double
    * norm). The bucketed layout gives the rerank's hydration joins an
    * exchange-free build side, exactly like [[bucketedVecs]].
    */
  private[graft] def bucketedQuantVecs(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.bucketedTable(s, s"annqvecs:$dir", "graft_annqvec",
      "vec_id", graft.util.Par.shufflePartitions(s)) {
      quantEmb(s, dir).select(col("vec_id"), col("qv"), col("qn2"))
    }

  /** [[rerankTop3From]] with the INT8 store as the hydration side —
    * the composition the quantized store exists for. Same canonical-
    * pair contract (cands carry query_id < neighbor_id once), same
    * SHUFFLE_HASH strategy pins (the planner must neither broadcast
    * off the pair stream's broken size estimate nor sort the wide
    * stream — both deaths measured at sf3), but the path's one
    * inherent cost center — the wide pair+vector exchange, 64.44 GB
    * per refresh at sf3 in the float form (SCALE_EVIDENCE_r11) — now
    * carries 72 B of vector payload per row instead of ~280 B. The
    * integer score is EXACTLY symmetric under operand swap (no FP
    * accumulation), so scoring once per unordered pair and
    * re-expanding is sound by arithmetic, not by fold-order contract.
    */
  private[graft] def rerankTop3QuantizedFrom(qvecs: DataFrame,
      cands: DataFrame): DataFrame = {
    def vecsAs(idCol: String, qCol: String, nCol: String) =
      qvecs.select(col("vec_id").as(idCol), col("qv").as(qCol), col("qn2").as(nCol))
    val scored = cands
      .join(vecsAs("neighbor_id", "qb", "qb2").hint("shuffle_hash"), Seq("neighbor_id"))
      .join(vecsAs("query_id", "qa", "qa2").hint("shuffle_hash"), Seq("query_id"))
      .withColumn("qcos", qcosExpr)
      .select(col("query_id"), col("neighbor_id"), col("qcos"))
    val directed = scored
      .select(explode(array(
        struct(col("query_id"), col("neighbor_id"), col("qcos")),
        struct(col("neighbor_id").as("query_id"),
          col("query_id").as("neighbor_id"), col("qcos")))).as("d"))
      .select(col("d.query_id").as("query_id"),
        col("d.neighbor_id").as("neighbor_id"), col("d.qcos").as("qcos"))
    directed
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate.topKScored(
        col("qcos"), col("neighbor_id"), 3).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sn")))
      .select(col("query_id"), col("sn.payload").as("neighbor_id"),
        col("sn.score").as("qcos"), (col("pos") + lit(1)).as("rank"))
  }

  /** The 100 TB rerank plan, registered: sign-LSH candidates through
    * the bucketed no-broadcast pipeline ([[signCandidatesBucketed]] →
    * [[candidatePairsCanonical]] — the exact plan that serves past the
    * broadcast envelope, run here at every SF so the oracle exercises
    * it), exact integer re-rank over the int8 store. int8 + LSH are
    * two stacked lossy codes; the per-query recall@3 against the
    * exact float-cosine graph rides along as the combined accuracy
    * witness (gated ≥ 0.8 at three SFs in SimilaritySpec — at 100 TB
    * the witness runs on a sampled query set, s07's documented
    * convention).
    */
  private def s09(s: SparkSession, dir: String): DataFrame = {
    val e = embWithNorm(s, dir)
    val (bits, tables) = annParamsFor(e, e.count())
    val cands = signCandidatesBucketed(s, dir, bits, tables)
    // consumed twice (recall denominator + final join); n×3-row
    // summary, same pin trade as s08's qtop
    val qtop = rerankTop3QuantizedFrom(bucketedQuantVecs(s, dir), cands)
      .localCheckpoint()
    val exact = knnGraphTable(s, dir)
      .select(col("query_id").as("qe_id"), col("neighbor_id").as("ne_id"))
    val rec = qtop
      .join(broadcast(exact),
        col("query_id") === col("qe_id") && col("neighbor_id") === col("ne_id"), "left")
      .groupBy(col("query_id"))
      .agg((count(col("qe_id")).cast("double") / lit(3.0)).as("recall_at_3"))
    qtop.join(broadcast(rec), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("qcos"), col("rank"),
        col("recall_at_3"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val s09Sql = s"""
    WITH $annCandidateCtes,
    $quantCtesDuck,
    qpairs AS (
      SELECT cd.query_id, cd.neighbor_id,
        $qcosDuck AS qcos
      FROM cand cd
      JOIN qn q ON q.vec_id = cd.query_id
      JOIN qn c ON c.vec_id = cd.neighbor_id),
    qranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY qcos DESC, neighbor_id) AS rank
      FROM qpairs),
    qtop AS (SELECT query_id, neighbor_id, qcos, rank FROM qranked WHERE rank <= 3),
    exact AS ($s04Sql),
    rec AS (
      SELECT t.query_id,
        CAST(count(e.query_id) AS DOUBLE) / CAST(3 AS DOUBLE) AS recall_at_3
      FROM qtop t LEFT JOIN exact e
        ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
      GROUP BY t.query_id)
    SELECT t.query_id, t.neighbor_id, t.qcos, t.rank, r.recall_at_3
    FROM qtop t JOIN rec r ON r.query_id = t.query_id
    ORDER BY t.query_id, t.rank"""

  // ---- s10: trained-centroid IVF search (k-means) ---------------------
  private val KMEANS_K = 10
  private val KMEANS_ITERS = 3
  private val KMEANS_NPROBE = 3

  /** Trained centroids and cell assignments, materialized once per
    * (session, corpus) — training is deterministic ([[Kmeans]]), so
    * the memo is sound and every consumer (s10's probe + inverted
    * lists, specs) shares one training pass, the same lifecycle as
    * the ANN index tables.
    */
  def kmeansCentroids(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"kmcent:$dir", "graft_kmcent")(
      Kmeans.fit(embWithNorm(s, dir), KMEANS_K, KMEANS_ITERS))

  def kmeansCells(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"kmcell:$dir", "graft_kmcell")(
      Kmeans.assign(embWithNorm(s, dir), kmeansCentroids(s, dir), KMEANS_K))

  /** s10: IVF search over TRAINED centroids — s03's shape (probe the
    * nearest coarse cell, exact-search its inverted list) with the
    * label stand-in replaced by [[Kmeans.fit]]'s learned quantizer,
    * which is what SemDeDup-style dedup and production IVF indexes
    * actually run. Probing is multi-cell (nprobe = 3 of k = 10: re-rank
    * the centroids per query and search the top inverted lists — the
    * standard IVF recall lever). Recall context: these embeddings are
    * near-uniform in cosine space (a query's exact top-5 shares its
    * LABEL 4% of the time — the labels are not cosine clusters), so
    * any IVF's recall is bounded by structure that isn't there;
    * measured 0.60 vs s01 while scanning 30% of the corpus — a 2x
    * lift over the scanned fraction, which is what a correct
    * quantizer delivers on unclustered data (on a corpus with real
    * cluster structure the same operator's recall rises with no code
    * change). The
    * inverted-list search is the s03 plan: broadcast the 10 queries,
    * equi-join the probe cells' members, codegen'd exact cosine,
    * bounded top-k aggregate. The n² lives only in the oracle;
    * S10KmeansSpec holds the recall witness vs s01 and a driver-side
    * Lloyd recount.
    */
  private def s10(s: SparkSession, dir: String): DataFrame = {
    val e = embWithNorm(s, dir)
    val cells = kmeansCells(s, dir)
    val cents = kmeansCentroids(s, dir)
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"), col("nrm").as("nq"))
    val probes = broadcast(q).crossJoin(broadcast(cents))
      .withColumn("ccos", expr(Cosine.dotSpark("eq", "centroid")) /
        (col("nq") * expr(Cosine.normSpark("centroid"))))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cell"))))
      .filter(col("crank") <= KMEANS_NPROBE)
      .select(col("query_id"), col("cell"))
    val members = cells.select(col("vec_id").as("neighbor_id"), col("cell"))
    val c = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ec"), col("nrm").as("nc"))
    val pairs = broadcast(q).join(broadcast(probes), Seq("query_id"))
      .join(members, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(c, Seq("neighbor_id"))
      .withColumn("cos", floatDot(col("eq"), col("ec")) / (col("nq") * col("nc")))
    topkPerQuery(pairs)
  }

  /** Unrolled-Lloyd oracle (the g09 unrolled-PageRank pattern): seeds
    * by md5 order, then [[KMEANS_ITERS]] assign+update rounds as
    * chained CTEs — assignment via the same cosine expression tree
    * (bit-equal by the [[Cosine]] left-fold contract, ties to the
    * smallest cell) and centroid means via [[graft.par.dsumSql]]
    * (decimal-exact, so partial-agg order can't diverge the engines).
    */
  private lazy val s10Sql: String = {
    def assignRows(cPrev: String) = s"""
        SELECT q.vec_id, c.cell,
          row_number() OVER (PARTITION BY q.vec_id ORDER BY
            ${Cosine.dotDuck("q.embedding", "c.centroid")}
              / (q.nrm * ${Cosine.normDuck("c.centroid")}) DESC, c.cell) AS rn
        FROM e q CROSS JOIN $cPrev c"""
    val rounds = (1 to KMEANS_ITERS).map { i =>
      s"""a$i AS MATERIALIZED (
      SELECT vec_id, cell FROM (${assignRows(s"c${i - 1}")}) WHERE rn = 1),
    u$i AS MATERIALIZED (
      SELECT cell, list(cv ORDER BY pos) AS centroid FROM (
        SELECT a.cell, t.i AS pos,
          ${graft.par.dsumSql("CAST(e.embedding[t.i] AS DOUBLE)", 9)} / count(*) AS cv
        FROM a$i a JOIN e ON e.vec_id = a.vec_id,
          UNNEST(range(1, len(e.embedding) + 1)) AS t(i)
        GROUP BY a.cell, t.i)
      GROUP BY cell),
    c$i AS MATERIALIZED (
      SELECT p.cell, COALESCE(u.centroid, p.centroid) AS centroid
      FROM c${i - 1} p LEFT JOIN u$i u USING (cell))"""
    }.mkString(",\n    ")
    s"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, embedding, ${Cosine.normDuck("embedding")} AS nrm
      FROM embeddings),
    c0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
          AS BIGINT) AS cell,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
      FROM (SELECT vec_id, embedding FROM e
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $KMEANS_K)),
    $rounds,
    cells AS MATERIALIZED (
      SELECT vec_id, cell FROM (${assignRows(s"c$KMEANS_ITERS")}) WHERE rn = 1),
    qp AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT q.vec_id, c.cell,
          row_number() OVER (PARTITION BY q.vec_id ORDER BY
            ${Cosine.dotDuck("q.embedding", "c.centroid")}
              / (q.nrm * ${Cosine.normDuck("c.centroid")}) DESC, c.cell) AS rn
        FROM e q CROSS JOIN c$KMEANS_ITERS c WHERE q.vec_id < $NQUERIES)
      WHERE rn <= $KMEANS_NPROBE),
    pairs AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        ${Cosine.dotDuck("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS cos
      FROM e q
      JOIN qp ON qp.vec_id = q.vec_id
      JOIN cells m ON m.cell = qp.cell AND m.vec_id <> q.vec_id
      JOIN e n ON n.vec_id = m.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cos DESC, neighbor_id) AS rank
      FROM pairs)
    SELECT query_id, neighbor_id, cos, rank FROM ranked
    WHERE rank <= $TOPK ORDER BY query_id, rank"""
  }

  // ---- s11: product-quantized ADC search ------------------------------
  /** Trained PQ codebooks and corpus codes, memoized per (session,
    * corpus) like the k-means tables — training is deterministic
    * ([[Pq]]), so the memo is sound and specs share one pass.
    */
  def pqCodebooks(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"pqcent:$dir", "graft_pqcent")(
      Pq.fit(Tables(s, dir, "embeddings")))

  def pqCodes(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"pqcode:$dir", "graft_pqcode")(
      Pq.encode(Tables(s, dir, "embeddings"), pqCodebooks(s, dir)))

  /** s11: PQ-compressed top-k search via ADC — the store-compression
    * rung past s08's int8 (4×): the searchable index is [[Pq]]'s 4
    * codes per vector (64× smaller than float32), and scoring reads
    * ONLY that code store plus a per-query 64-entry lookup table
    * (pdot = ⟨q_m, centroid⟩ per (m, code), built from two broadcast
    * tiny frames). The approximate inner product Σ_m lut[m][code_m(x)]
    * rides a decimal cast ([[graft.par.dsum]]) so the 4-way sum is
    * order-independent — bit-identical in DuckDB, whose oracle also
    * unrolls the 2 Lloyd training iterations exactly ([[Pq]]'s
    * determinism contract). Ranking is the bounded top-k aggregate on
    * (adc DESC, neighbor_id). S11PqSpec holds the driver-side Lloyd
    * recount and the recall-lift witness vs exact s01 (same
    * near-uniform-corpus context as s10 — the gate is lift over
    * random, not absolute recall).
    *
    * Scale shape: the code store is the ONLY corpus-sized input
    * (n·M narrow rows); the LUT join is a broadcast hash join against
    * it, and the per-(query, vector) partial sums map-side-combine
    * n·M → n·n_q before the exchange. No float hydration, no wide
    * exchange — the plan PQ exists for.
    */
  private def s11(s: SparkSession, dir: String): DataFrame = {
    val cents = pqCodebooks(s, dir)
    val codes = pqCodes(s, dir)
    val qs = Pq.sliced(
        Tables(s, dir, "embeddings").filter(col("vec_id") < NQUERIES))
      .toDF("query_id", "m", "qsv")
    val lut = broadcast(qs).join(broadcast(cents), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        expr(Cosine.dotSpark("qsv", "centroid")).as("pdot"))
    val scores = codes.toDF("neighbor_id", "m", "code")
      .join(broadcast(lut), Seq("m", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(graft.par.dsum(col("pdot"), 9).as("cos"))
    topkUnordered(scores, TOPK)
      .select(col("query_id"), col("neighbor_id"), col("cos").as("adc"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Unrolled-PQ oracle: seeds by md5 order shared across subspaces,
    * [[Pq.ITERS]] assign+update rounds as chained CTEs (assignment
    * score = dot − ‖c‖²/2 with the same left-fold expression trees,
    * centroid means via [[graft.par.dsumSql]]), then encode + LUT +
    * decimal-exact ADC sum — bit-identical end to end.
    */
  private lazy val s11Sql: String = {
    import Pq.{M, SUB, K, ITERS}
    def assignRows(cPrev: String) = s"""
        SELECT v.vec_id, v.m, c.code,
          row_number() OVER (PARTITION BY v.vec_id, v.m ORDER BY
            (${Cosine.dotDuck("v.sv", "c.centroid")}
              - 0.5 * ${Pq.n2Duck("c.centroid")}) DESC, c.code) AS rn
        FROM sv v JOIN $cPrev c ON c.m = v.m"""
    val rounds = (1 to ITERS).map { i =>
      s"""a$i AS MATERIALIZED (
      SELECT vec_id, m, code FROM (${assignRows(s"c${i - 1}")}) WHERE rn = 1),
    u$i AS MATERIALIZED (
      SELECT m, code, list(cv ORDER BY pos) AS centroid FROM (
        SELECT a.m, a.code, t.i AS pos,
          ${graft.par.dsumSql("CAST(v.sv[t.i] AS DOUBLE)", 9)} / count(*) AS cv
        FROM a$i a JOIN sv v ON v.vec_id = a.vec_id AND v.m = a.m,
          UNNEST(range(1, len(v.sv) + 1)) AS t(i)
        GROUP BY a.m, a.code, t.i)
      GROUP BY m, code),
    c$i AS MATERIALIZED (
      SELECT p.m, p.code, COALESCE(u.centroid, p.centroid) AS centroid
      FROM c${i - 1} p LEFT JOIN u$i u USING (m, code))"""
    }.mkString(",\n    ")
    s"""
    WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
    sv AS MATERIALIZED (
      SELECT e.vec_id, t.m AS m,
        list_transform(range(t.m * $SUB + 1, t.m * $SUB + ${SUB + 1}),
          i -> e.embedding[i]) AS sv
      FROM e, UNNEST(range(0, $M)) AS t(m)),
    c0 AS MATERIALIZED (
      SELECT v.m, s.code, list_transform(v.sv, x -> CAST(x AS DOUBLE)) AS centroid
      FROM (SELECT vec_id,
              CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                AS BIGINT) AS code
            FROM (SELECT vec_id FROM e
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $K) q) s
      JOIN sv v ON v.vec_id = s.vec_id),
    $rounds,
    codes AS MATERIALIZED (
      SELECT vec_id, m, code FROM (${assignRows(s"c$ITERS")}) WHERE rn = 1),
    lut AS MATERIALIZED (
      SELECT v.vec_id AS query_id, c.m, c.code,
        ${Cosine.dotDuck("v.sv", "c.centroid")} AS pdot
      FROM sv v JOIN c$ITERS c ON c.m = v.m WHERE v.vec_id < $NQUERIES),
    scores AS MATERIALIZED (
      SELECT l.query_id, en.vec_id AS neighbor_id,
        ${graft.par.dsumSql("l.pdot", 9)} AS adc
      FROM codes en JOIN lut l ON l.m = en.m AND l.code = en.code
      WHERE en.vec_id <> l.query_id
      GROUP BY l.query_id, en.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY adc DESC, neighbor_id) AS rank
      FROM scores)
    SELECT query_id, neighbor_id, adc, rank FROM ranked
    WHERE rank <= $TOPK ORDER BY query_id, rank"""
  }

  // ---- s12: IVF + PQ composed (IVFADC) --------------------------------
  /** Residual table behind s12: each vector minus its assigned coarse
    * centroid (vector cast to double first — exact IEEE widening and
    * subtraction, so both engines agree bit-for-bit), memoized per
    * (session, corpus) like the k-means tables. One corpus-sized
    * vec_id-keyed hash join plus a k-row centroid broadcast.
    */
  def ivfResiduals(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"ivfres:$dir", "graft_ivfres")(
      embWithNorm(s, dir)
        .join(kmeansCells(s, dir), Seq("vec_id"))
        .join(broadcast(kmeansCentroids(s, dir)), Seq("cell"))
        .select(col("vec_id"), col("cell"),
          expr("zip_with(embedding, centroid, (x, c) -> cast(x as double) - c)")
            .as("embedding")))

  /** PQ codebooks trained on the RESIDUALS (not the raw vectors) —
    * the IVFADC layout (Jégou et al. 2011 §III): within a coarse
    * cell residuals are small and centered, so the same 4-byte code
    * budget quantizes them far more finely than the raw space.
    */
  def ivfpqCodebooks(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"ivfpqcent:$dir", "graft_ivfpqcent")(
      Pq.fit(ivfResiduals(s, dir).select(col("vec_id"), col("embedding"))))

  def ivfpqCodes(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"ivfpqcode:$dir", "graft_ivfpqcode")(
      Pq.encode(ivfResiduals(s, dir).select(col("vec_id"), col("embedding")),
        ivfpqCodebooks(s, dir)))

  /** s12: the production ANN layout — s10's trained coarse cells
    * select WHICH vectors to score (nprobe inverted lists), s11's ADC
    * scores them from codes alone, with the codebooks trained on
    * residuals so ⟨q, x⟩ ≈ ⟨q, c_cell(x)⟩ + Σ_m lut[m][code_m(x)]:
    * one per-(query, probed-cell) scalar plus the 64-entry residual
    * LUT. The search reads ONLY the code store and the cell
    * assignment — no float hydration; the M partial terms ride the
    * decimal sum and the final +⟨q,c⟩ is one IEEE add, so the score
    * is bit-identical in DuckDB, whose oracle chains the s10 k-means
    * unroll into the s11 PQ unroll over residuals. S12IvfPqSpec holds
    * the driver-side recount and the rank-quality gates vs s10-alone
    * and s11-alone.
    *
    * Scale shape: corpus-sized work is one vec_id-keyed hash join
    * (codes × cell assignment), a broadcast semi-filter to the probed
    * cells (candidate set = nprobe/k of the corpus), a broadcast LUT
    * join, and a map-side-combining (query, neighbor) partial sum —
    * s11's plan restricted to the probe set, which is the whole point
    * of IVF at 100 TB.
    */
  /** s12's ADC score table (query_id, neighbor_id, cos) — factored so
    * s13's rerank consumes the same shortlist machinery. */
  private[graft] def ivfadcScores(s: SparkSession, dir: String): DataFrame = {
    val e = embWithNorm(s, dir)
    val cents = kmeansCentroids(s, dir)
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"), col("nrm").as("nq"))
    val probes = broadcast(q).crossJoin(broadcast(cents))
      .withColumn("ccos", expr(Cosine.dotSpark("eq", "centroid")) /
        (col("nq") * expr(Cosine.normSpark("centroid"))))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cell"))))
      .filter(col("crank") <= KMEANS_NPROBE)
      .select(col("query_id"), col("cell"))
    val qc = broadcast(q).join(broadcast(probes), Seq("query_id"))
      .join(broadcast(cents), Seq("cell"))
      .select(col("query_id"), col("cell"),
        expr(Cosine.dotSpark("eq", "centroid")).as("qc"))
    val qs = Pq.sliced(
        Tables(s, dir, "embeddings").filter(col("vec_id") < NQUERIES))
      .toDF("query_id", "m", "qsv")
    val lut = broadcast(qs).join(broadcast(ivfpqCodebooks(s, dir)), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        expr(Cosine.dotSpark("qsv", "centroid")).as("pdot"))
    val scores = ivfpqCodes(s, dir).toDF("neighbor_id", "m", "code")
      .join(kmeansCells(s, dir).toDF("neighbor_id", "cell"), Seq("neighbor_id"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("neighbor_id"), col("cell"))
      .agg(graft.par.dsum(col("pdot"), 9).as("rsum"))
      .join(broadcast(qc), Seq("query_id", "cell"))
      .select(col("query_id"), col("neighbor_id"),
        (col("qc") + col("rsum")).as("cos"))
    scores
  }

  private def s12(s: SparkSession, dir: String): DataFrame =
    topkUnordered(ivfadcScores(s, dir), TOPK)
      .select(col("query_id"), col("neighbor_id"), col("cos").as("adc"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))

  // ---- s13: IVFADC shortlist + int8 rerank (two-stage serving) -------
  /** How many ADC candidates per query survive into the rerank. */
  private[graft] val RERANK_R = 15


  /** s13: the standard two-stage ANN serving path — s12's ADC pass
    * (which reads ONLY the 4 B/vec code store + cell assignment)
    * produces a top-R shortlist per query, and the shortlist alone is
    * re-scored exactly against the int8 store (72 B/vec, s09's
    * hydration machinery). ADC scores are quantization-noisy; the
    * rerank recovers the ordering at the cost of hydrating R vectors
    * per query instead of a corpus scan — the trade IVFADC serving is
    * built on (Jégou et al. 2011 §IV's IVFADC+R refinement).
    *
    * Scale shape: stage 1 is s12's plan verbatim; stage 2's exchanges
    * are bounded by R × queries rows — the shortlist broadcasts
    * against the bucketed int8 store (exchange-free probe) and the
    * NQUERIES-row query side broadcasts back. No corpus-sized float
    * hydration anywhere (spec-pinned); the int8 rerank score is the
    * exact integer arithmetic of s08/s09, bit-identical in DuckDB.
    */
  /** Stage 2 of s13 pre-checkpoint — (query_id, neighbor_id, cos) with
    * cos the exact int8 rerank score over the ADC top-R shortlist.
    * Factored package-private so the plan pins (int8 store never
    * shuffled/sorted; zero added float scans) assert THIS plan —
    * s13's registered form checkpoints the 3-row-per-query summary,
    * which truncates the visible plan.
    */
  private[graft] def ivfadcRerankScored(s: SparkSession, dir: String): DataFrame = {
    val shortlist = topkUnordered(ivfadcScores(s, dir), RERANK_R)
      .select(col("query_id"), col("neighbor_id"))
    val qvecs = bucketedQuantVecs(s, dir)
    val cand = qvecs
      .join(broadcast(shortlist), col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("qv").as("qb"), col("qn2").as("qb2"))
    val qside = qvecs.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"), col("qn2").as("qa2"))
    cand.join(broadcast(qside), Seq("query_id"))
      .withColumn("cos", qcosExpr)
  }

  private def s13(s: SparkSession, dir: String): DataFrame = {
    // n×3-row summary consumed twice — s08's qtop pin trade
    val qtop = topkUnordered(ivfadcRerankScored(s, dir), 3)
      .withColumnRenamed("cos", "qcos")
      .localCheckpoint()
    val exact = knnGraphTable(s, dir)
      .select(col("query_id").as("qe_id"), col("neighbor_id").as("ne_id"))
    val rec = qtop
      .join(broadcast(exact),
        col("query_id") === col("qe_id") && col("neighbor_id") === col("ne_id"), "left")
      .groupBy(col("query_id"))
      .agg((count(col("qe_id")).cast("double") / lit(3.0)).as("recall_at_3"))
    qtop.join(broadcast(rec), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("qcos"), col("rank"),
        col("recall_at_3"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Chained-unroll oracle: the s10 k-means CTEs (3 Lloyd rounds →
    * cells + final centroids) feed a residual table, the s11 PQ CTEs
    * re-run over those residuals (2 Lloyd rounds per subspace →
    * codes), and the ADC sum adds the per-(query, cell) ⟨q, c⟩ scalar
    * — every arithmetic step the same left-fold/decimal contract as
    * its parents, so the composition stays bit-exact.
    */
  private lazy val ivfadcCtes: String = {
    import Pq.{M, SUB, K, ITERS}
    // k-means unroll (s10's CTE structure, verbatim semantics)
    def kmAssign(cPrev: String) = s"""
        SELECT q.vec_id, c.cell,
          row_number() OVER (PARTITION BY q.vec_id ORDER BY
            ${Cosine.dotDuck("q.embedding", "c.centroid")}
              / (q.nrm * ${Cosine.normDuck("c.centroid")}) DESC, c.cell) AS rn
        FROM e q CROSS JOIN $cPrev c"""
    val kmRounds = (1 to KMEANS_ITERS).map { i =>
      s"""a$i AS MATERIALIZED (
      SELECT vec_id, cell FROM (${kmAssign(s"c${i - 1}")}) WHERE rn = 1),
    u$i AS MATERIALIZED (
      SELECT cell, list(cv ORDER BY pos) AS centroid FROM (
        SELECT a.cell, t.i AS pos,
          ${graft.par.dsumSql("CAST(e.embedding[t.i] AS DOUBLE)", 9)} / count(*) AS cv
        FROM a$i a JOIN e ON e.vec_id = a.vec_id,
          UNNEST(range(1, len(e.embedding) + 1)) AS t(i)
        GROUP BY a.cell, t.i)
      GROUP BY cell),
    c$i AS MATERIALIZED (
      SELECT p.cell, COALESCE(u.centroid, p.centroid) AS centroid
      FROM c${i - 1} p LEFT JOIN u$i u USING (cell))"""
    }.mkString(",\n    ")
    // PQ unroll over residual slices (s11's CTE structure)
    def pqAssign(cPrev: String) = s"""
        SELECT v.vec_id, v.m, c.code,
          row_number() OVER (PARTITION BY v.vec_id, v.m ORDER BY
            (${Cosine.dotDuck("v.sv", "c.centroid")}
              - 0.5 * ${Pq.n2Duck("c.centroid")}) DESC, c.code) AS rn
        FROM sv v JOIN $cPrev c ON c.m = v.m"""
    val pqRounds = (1 to ITERS).map { i =>
      s"""pa$i AS MATERIALIZED (
      SELECT vec_id, m, code FROM (${pqAssign(s"pc${i - 1}")}) WHERE rn = 1),
    pu$i AS MATERIALIZED (
      SELECT m, code, list(cv ORDER BY pos) AS centroid FROM (
        SELECT a.m, a.code, t.i AS pos,
          ${graft.par.dsumSql("CAST(v.sv[t.i] AS DOUBLE)", 9)} / count(*) AS cv
        FROM pa$i a JOIN sv v ON v.vec_id = a.vec_id AND v.m = a.m,
          UNNEST(range(1, len(v.sv) + 1)) AS t(i)
        GROUP BY a.m, a.code, t.i)
      GROUP BY m, code),
    pc$i AS MATERIALIZED (
      SELECT p.m, p.code, COALESCE(u.centroid, p.centroid) AS centroid
      FROM pc${i - 1} p LEFT JOIN pu$i u USING (m, code))"""
    }.mkString(",\n    ")
    s"""e AS MATERIALIZED (
      SELECT vec_id, embedding, ${Cosine.normDuck("embedding")} AS nrm
      FROM embeddings),
    c0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
          AS BIGINT) AS cell,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
      FROM (SELECT vec_id, embedding FROM e
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $KMEANS_K)),
    $kmRounds,
    cells AS MATERIALIZED (
      SELECT vec_id, cell FROM (${kmAssign(s"c$KMEANS_ITERS")}) WHERE rn = 1),
    res AS MATERIALIZED (
      SELECT e.vec_id, cl.cell,
        list_transform(range(1, len(e.embedding) + 1),
          i -> CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) AS remb
      FROM e JOIN cells cl USING (vec_id) JOIN c$KMEANS_ITERS c ON c.cell = cl.cell),
    sv AS MATERIALIZED (
      SELECT r.vec_id, t.m AS m,
        list_transform(range(t.m * $SUB + 1, t.m * $SUB + ${SUB + 1}),
          i -> r.remb[i]) AS sv
      FROM res r, UNNEST(range(0, $M)) AS t(m)),
    pc0 AS MATERIALIZED (
      SELECT v.m, s2.code, list_transform(v.sv, x -> CAST(x AS DOUBLE)) AS centroid
      FROM (SELECT vec_id,
              CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                AS BIGINT) AS code
            FROM (SELECT vec_id FROM e
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $K) q2) s2
      JOIN sv v ON v.vec_id = s2.vec_id),
    $pqRounds,
    codes AS MATERIALIZED (
      SELECT vec_id, m, code FROM (${pqAssign(s"pc$ITERS")}) WHERE rn = 1),
    qp AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT q.vec_id, c.cell,
          row_number() OVER (PARTITION BY q.vec_id ORDER BY
            ${Cosine.dotDuck("q.embedding", "c.centroid")}
              / (q.nrm * ${Cosine.normDuck("c.centroid")}) DESC, c.cell) AS rn
        FROM e q CROSS JOIN c$KMEANS_ITERS c WHERE q.vec_id < $NQUERIES)
      WHERE rn <= $KMEANS_NPROBE),
    qsl AS MATERIALIZED (
      SELECT e.vec_id, t.m AS m,
        list_transform(range(t.m * $SUB + 1, t.m * $SUB + ${SUB + 1}),
          i -> e.embedding[i]) AS sv
      FROM e, UNNEST(range(0, $M)) AS t(m)
      WHERE e.vec_id < $NQUERIES),
    lut AS MATERIALIZED (
      SELECT v.vec_id AS query_id, c.m, c.code,
        ${Cosine.dotDuck("v.sv", "c.centroid")} AS pdot
      FROM qsl v JOIN pc$ITERS c ON c.m = v.m),
    qcs AS MATERIALIZED (
      SELECT q.vec_id AS query_id, qp.cell,
        ${Cosine.dotDuck("q.embedding", "c.centroid")} AS qc
      FROM e q JOIN qp ON qp.vec_id = q.vec_id
      JOIN c$KMEANS_ITERS c ON c.cell = qp.cell),
    scores AS MATERIALIZED (
      SELECT qp.vec_id AS query_id, cd.vec_id AS neighbor_id, cl.cell,
        ${graft.par.dsumSql("l.pdot", 9)} AS rsum
      FROM codes cd
      JOIN cells cl ON cl.vec_id = cd.vec_id
      JOIN qp ON qp.cell = cl.cell
      JOIN lut l ON l.query_id = qp.vec_id AND l.m = cd.m AND l.code = cd.code
      WHERE cd.vec_id <> qp.vec_id
      GROUP BY 1, 2, 3),
    adcs AS (
      SELECT s2.query_id, s2.neighbor_id, q.qc + s2.rsum AS adc
      FROM scores s2 JOIN qcs q ON q.query_id = s2.query_id AND q.cell = s2.cell)"""
  }

  private lazy val s12Sql: String = s"""
    WITH $ivfadcCtes,
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY adc DESC, neighbor_id) AS rank
      FROM adcs)
    SELECT query_id, neighbor_id, adc, rank FROM ranked
    WHERE rank <= $TOPK ORDER BY query_id, rank"""

  /** s13's oracle: the full IVFADC unroll feeding a top-R shortlist,
    * re-scored by the int8 quantization CTEs (s08/s09's bit-parity
    * twins), recall@3 vs the exact float graph riding along.
    */
  private lazy val s13Sql: String = s"""
    WITH $ivfadcCtes,
    $quantCtesDuck,
    adcranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY adc DESC, neighbor_id) AS rank
      FROM adcs),
    short AS (
      SELECT query_id, neighbor_id FROM adcranked WHERE rank <= $RERANK_R),
    qpairs AS (
      SELECT sh.query_id, sh.neighbor_id, $qcosDuck AS qcos
      FROM short sh
      JOIN qn q ON q.vec_id = sh.query_id
      JOIN qn c ON c.vec_id = sh.neighbor_id),
    qranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY qcos DESC, neighbor_id) AS rank
      FROM qpairs),
    qtop AS (SELECT query_id, neighbor_id, qcos, rank FROM qranked WHERE rank <= 3),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY q.vec_id ORDER BY
            ${Cosine.dotDuck("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
              DESC, c.vec_id) AS rnk
        FROM e q JOIN e c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < $NQUERIES)
      WHERE rnk <= 3),
    rec AS (
      SELECT t.query_id,
        CAST(count(e2.query_id) AS DOUBLE) / CAST(3 AS DOUBLE) AS recall_at_3
      FROM qtop t LEFT JOIN exact e2
        ON e2.query_id = t.query_id AND e2.neighbor_id = t.neighbor_id
      GROUP BY t.query_id)
    SELECT t.query_id, t.neighbor_id, t.qcos, t.rank, r.recall_at_3
    FROM qtop t JOIN rec r ON r.query_id = t.query_id
    ORDER BY t.query_id, t.rank"""

  val ops: Seq[Op] = Seq(
    Op("s01_knn_bruteforce", s01, Some(s01Sql)),
    Op("s12_ivfpq", s12, Some(s12Sql)),
    Op("s13_ivfadc_rerank", s13, Some(s13Sql)),
    Op("s10_ivf_kmeans", s10, Some(s10Sql)),
    Op("s11_pq_adc", s11, Some(s11Sql)),
    Op("s08_quantized_knn", s08, Some(s08Sql)),
    Op("s09_quantized_rerank", s09, Some(s09Sql)),
    Op("s02_ann_signlsh", s02, Some(s02Sql)),
    Op("s03_ivf_label", s03, Some(s03Sql)),
    Op("s04_knn_graph", s04, Some(s04Sql)),
    Op("s05_ann_recall", s05, Some(s05Sql)),
    Op("s06_knn_graph_ann", s06, Some(s06Sql)),
    Op("s07_knn_recall", s07, Some(s07Sql)))
}
