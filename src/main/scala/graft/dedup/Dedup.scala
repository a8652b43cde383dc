package graft.dedup

import graft.{Op, Tables}
import graft.sim.Cosine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data deduplication suite over the `documents` table.
  *
  * Scale design: shingling and minhashing are per-row projections
  * (higher-order array functions, codegen'd — the token stream is
  * never exploded); only the band join shuffles, keyed by md5-band
  * buckets whose uniformity bounds skew. Candidate verification
  * (d04) touches only LSH-selected pairs, never the n² pair space.
  */
object Dedup {
  private val K = 9      // minhash signatures
  private[dedup] val BANDS = 3  // bands of 3 rows each

  // ---- shared minhash machinery -------------------------------------
  // char-5-gram shingles; the K=9 signatures are 7-hex-char chunks of
  // two md5 digests per shingle (md5(sh) || md5('x'+sh), 64 chars):
  // 2 cryptographic hashes fan out into 9 independent 28-bit hash
  // families instead of 9 md5 calls per shingle (4.5x less hashing).
  // Signature i = lexicographic min chunk over the doc's shingles —
  // identical strings in both engines.
  //
  // Scale shape: explode(shingles) -> md5 -> min-aggregate is a
  // map-side-combining aggregation keyed by doc_id; each combiner
  // folds its own doc's shingles, and the exploded token stream never
  // crosses the shuffle.
  private val shinglesSpark =
    "transform(sequence(1, greatest(length(text)-4, 1)), j -> substr(text, j, 5))"

  /** (doc_id, mh0..mh8) signature table. */
  def minhashes(docs: DataFrame): DataFrame = {
    val mins = (0 until K).map(i => min(substring(col("dig"), 1 + 7 * i, 7)).as(s"mh$i"))
    docs.select(col("doc_id"), explode(expr(shinglesSpark)).as("sh"))
      .select(col("doc_id"),
        concat(md5(col("sh").cast("binary")),
          md5(concat(lit("x"), col("sh")).cast("binary"))).as("dig"))
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
  }

  /** The materialized signature table for a corpus dir.
    *
    * d02/d04/d06 all consume the same signature table, so materialize
    * it once per (session, corpus dir) as parquet — the index-building
    * pattern a production dedup pipeline uses (signatures are computed
    * at ingest, queries read the index).
    */
  def minhashTable(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"mh:$dir", "graft_mh")(
      minhashes(Tables(s, dir, "documents")))

  private val mhCteDuck: String = {
    val mins = (0 until K).map(i => s"MIN(substr(dig, ${1 + 7 * i}, 7)) AS mh$i").mkString(", ")
    s"""mh AS (
      SELECT doc_id, $mins
      FROM (SELECT doc_id, md5(sh) || md5('x' || sh) AS dig
            FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(text)-4, 1) + 1),
                    j -> substr(text, j, 5))) AS sh
                  FROM documents))
      GROUP BY doc_id)"""
  }

  /** LSH band table: (doc_id, band, bkey). */
  def bands(mh: DataFrame): DataFrame = {
    val bandCols = (0 until BANDS).map { b =>
      struct(lit(b).as("band"),
        md5(concat(col(s"mh${3 * b}"), col(s"mh${3 * b + 1}"), col(s"mh${3 * b + 2}"))).as("bkey"))
    }
    mh.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  private val bandsCteDuck: String =
    "bands AS (" + (0 until BANDS).map { b =>
      s"SELECT doc_id, $b AS band, md5(mh${3 * b} || mh${3 * b + 1} || mh${3 * b + 2}) AS bkey FROM mh"
    }.mkString(" UNION ALL ") + ")"

  /** Candidate pairs sharing ≥1 band. */
  def candidates(mh: DataFrame): DataFrame = {
    val bnds = bands(mh)
    val a = bnds.select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
    val b = bnds.select(col("doc_id").as("doc_b"), col("band").as("band_b"), col("bkey").as("bkey_b"))
    a.join(b, col("band") === col("band_b") && col("bkey") === col("bkey_b") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Materialized candidate-pair table — d02/d04/d06 all start from
    * the same band self-join, so it is computed once per (session,
    * corpus) like the signature table it derives from.
    */
  def candidatesTable(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"cand:$dir", "graft_cand")(
      candidates(minhashTable(s, dir)))

  /** Materialized dup-cluster assignment (doc_id, cluster_id): LSH
    * candidates verified at ≥5/9 matching signatures, connected
    * components over the resulting dup graph. Built once per (session,
    * corpus); d06 and d08 both read it (d08's survivor ranking would
    * otherwise re-run the whole propagation loop).
    */
  def clustersTable(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"clusters:$dir", "graft_clus") {
      val mh = minhashTable(s, dir)
      val a = mh.toDF("doc_a" +: (0 until K).map(i => s"a$i"): _*)
      val b = mh.toDF("doc_b" +: (0 until K).map(i => s"b$i"): _*)
      val matches = (0 until K).map(i =>
        when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
      val dups = candidatesTable(s, dir).join(a, Seq("doc_a")).join(b, Seq("doc_b"))
        .filter(matches >= 5)
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
      val nodes = dups.select(col("doc_a").as("node"))
        .unionAll(dups.select(col("doc_b").as("node"))).distinct()
      val sym = dups.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(dups.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      graft.graph.Components.labelPropagate(nodes, sym)
        .select(col("node").as("doc_id"), col("comp").as("cluster_id"))
    }

  private val candCteDuck: String = """
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)"""

  // ---- d01: exact dedup ---------------------------------------------
  private def d01(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("content_hash"), col("n_copies"))
      .orderBy(col("doc_id"))

  private val d01Sql = """
    SELECT MIN(doc_id) AS doc_id, md5(text) AS content_hash, count(*) AS n_copies
    FROM documents GROUP BY md5(text) ORDER BY doc_id"""

  // ---- d02: MinHash + LSH banding -----------------------------------
  private def d02(s: SparkSession, dir: String): DataFrame = {
    val mh = minhashTable(s, dir)
    val cand = candidatesTable(s, dir)
    val a = mh.toDF("doc_a" +: (0 until K).map(i => s"a$i"): _*)
    val b = mh.toDF("doc_b" +: (0 until K).map(i => s"b$i"): _*)
    val matches = (0 until K).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
    cand.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (matches.cast("double") / lit(9.0)).as("est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val d02Sql = {
    val matches = (0 until K).map(i =>
      s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""
    WITH $mhCteDuck, $bandsCteDuck, $candCteDuck
    SELECT c.doc_a, c.doc_b,
      CAST($matches AS DOUBLE) / CAST(9 AS DOUBLE) AS est_jaccard
    FROM cand c
    JOIN mh x ON x.doc_id = c.doc_a
    JOIN mh y ON y.doc_id = c.doc_b
    ORDER BY c.doc_a, c.doc_b"""
  }

  // ---- d03: SimHash (16-bit) ----------------------------------------
  // bit b of a token's hash = bit (b%4) of hex nibble (b/4) of md5;
  // all-integer voting so both engines agree exactly.

  /** (doc_id, simhash) fingerprint table. */
  def simhashFp(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), t -> t != '')")).as("tok"))
      .withColumn("th", md5(col("tok").cast("binary")))
    val votes = (0 until 16).map { b =>
      val nib = s"(instr('0123456789abcdef', substr(th, ${1 + b / 4}, 1)) - 1)"
      sum(expr(s"2 * (($nib div ${1 << (b % 4)}) % 2) - 1")).as(s"v$b")
    }
    val fp = (0 until 16).map { b =>
      when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** Materialized (doc_id, simhash) table shared by d03/d07. */
  def simhashTable(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"simhash:$dir", "graft_sh")(simhashFp(s, dir))

  private def d03(s: SparkSession, dir: String): DataFrame =
    simhashTable(s, dir)
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy(col("simhash"))))
      .orderBy(col("doc_id"))

  /** DuckDB CTE chain producing fps(doc_id, simhash). */
  private val fpsCteDuck: String = {
    val votes = (0 until 16).map { b =>
      val nib = s"(instr('0123456789abcdef', substr(th, ${1 + b / 4}, 1)) - 1)"
      s"SUM(2 * (($nib // ${1 << (b % 4)}) % 2) - 1) AS v$b"
    }.mkString(", ")
    val fp = (0 until 16).map(b => s"CASE WHEN v$b >= 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""toks AS (
      SELECT doc_id, md5(t.tok) AS th
      FROM documents, UNNEST(list_filter(string_split(text, ' '), x -> x != '')) AS t(tok)),
    votes AS (SELECT doc_id, $votes FROM toks GROUP BY doc_id),
    fps AS MATERIALIZED (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM votes)"""
  }

  private val d03Sql = s"""
    WITH $fpsCteDuck
    SELECT doc_id, simhash,
      count(*) OVER (PARTITION BY simhash) AS bucket_n
    FROM fps ORDER BY doc_id"""

  // ---- d04: 3-token-shingle Jaccard on LSH candidates ---------------
  // HASHED shingle sets (r15, the Broder '97 form): each 3-gram maps
  // to a 60-bit md5-prefix BIGINT before anything stores or ships it.
  // Exactness contract: both engines hash identically, so n_inter /
  // jaccard / containment are bit-equal cross-engine (a 60-bit
  // collision collapses the same element in both). The compaction is
  // load-bearing at scale: the candidate-pair stream hydrates BOTH
  // docs' sets through two exchanges, and at sf3 the string form
  // (~2 KB/doc) filled the spill volume — 8 B/element longs cut that
  // ~4x and make the two-pointer verify a long compare. Sorted so the
  // pairwise intersection is a codegen'd two-pointer merge.
  private val sh3Spark: String = """
    CASE WHEN size(toks) >= 3 THEN
      array_sort(array_distinct(transform(sequence(1, size(toks) - 2),
        i -> cast(conv(substring(md5(cast(concat_ws(' ', element_at(toks, i),
               element_at(toks, i + 1), element_at(toks, i + 2)) as binary)),
             1, 15), 16, 10) as bigint))))
    ELSE array(cast(conv(substring(md5(cast(text as binary)), 1, 15), 16, 10)
           as bigint)) END"""

  /** DuckDB twin of the 60-bit shingle hash (the h32 fold at 15
    * nibbles — DuckDB has no hex-parse cast, and the oracle side is
    * not the hot path).
    */
  private def h60Duck(e: String): String = s"""
    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, 16),
        nib -> CAST(strpos('0123456789abcdef', substr(md5($e), nib, 1)) - 1 AS BIGINT)),
      (acc, c) -> acc * 16 + c)"""

  private def sh3Duck: String = s"""
      SELECT doc_id,
        CASE WHEN len(toks) >= 3 THEN
          list_sort(list_distinct(list_transform(range(1, len(toks) - 1),
            i -> ${h60Duck("toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]")})))
        ELSE [${h60Duck("text")}] END AS sh3
      FROM (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t != '') AS toks
            FROM documents)"""

  /** The (doc_id, sorted distinct 3-shingle array) table, materialized
    * once per (session, corpus) — the winnowHashes rule applied to the
    * d04/d18 shingle sets: each consumer joins this table TWICE (both
    * pair sides), and without the barrier the interpreted
    * filter/split/transform/sort chain re-evaluates over the raw text
    * on every side of every consumer (measured: d04 5.4 s → 0.7 s at
    * sf0.1 once the joins bind to a stored column).
    */
  private def sh3Table(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"sh3h:$dir", "graft_sh3h")(
      Tables(s, dir, "documents")
        .repartition(graft.util.Par.shufflePartitions(s))
        .withColumn("toks", expr("filter(split(text, ' '), t -> t != '')"))
        .select(col("doc_id"), expr(sh3Spark).as("sh3")))

  private def d04(s: SparkSession, dir: String): DataFrame = {
    val cand = candidatesTable(s, dir)
    val sh = sh3Table(s, dir)
    val a = sh.select(col("doc_id").as("doc_a"), col("sh3").as("sha"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh3").as("shb"))
    // SHUFFLE_HASH with the doc-count-sized shingle table as build
    // side, BOTH hops: once the arrays exceed the broadcast envelope
    // the unhinted plan is a sort-merge join whose SECOND hop SORTS
    // the pair stream already carrying the first doc's shingle array —
    // measured at sf3: ~125M candidate pairs x ~2 KB array payload
    // filled the 79 GB spill volume and killed the query; the hash
    // join streams the pair side untouched
    cand.join(a.hint("SHUFFLE_HASH"), Seq("doc_a"))
      .join(b.hint("SHUFFLE_HASH"), Seq("doc_b"))
      .withColumn("n_inter",
        graft.functions.SortedIntersectCount.sortedIntersectCount(col("sha"), col("shb")))
      .withColumn("n_union",
        (size(col("sha")) + size(col("shb"))).cast("long") - col("n_inter"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
        (col("n_inter").cast("double") / col("n_union").cast("double")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val d04Sql = s"""
    WITH $mhCteDuck, $bandsCteDuck, $candCteDuck,
    sh AS ($sh3Duck)
    SELECT c.doc_a, c.doc_b,
      CAST(len(list_intersect(x.sh3, y.sh3)) AS BIGINT) AS n_inter,
      CAST(len(x.sh3) + len(y.sh3) - len(list_intersect(x.sh3, y.sh3)) AS BIGINT) AS n_union,
      CAST(len(list_intersect(x.sh3, y.sh3)) AS DOUBLE)
        / CAST(len(x.sh3) + len(y.sh3) - len(list_intersect(x.sh3, y.sh3)) AS DOUBLE) AS jaccard
    FROM cand c
    JOIN sh x ON x.doc_id = c.doc_a
    JOIN sh y ON y.doc_id = c.doc_b
    ORDER BY c.doc_a, c.doc_b"""

  // ---- d18: shingle CONTAINMENT on LSH candidates --------------------
  /** Broder containment c(a→b) = |A∩B| / |A| over the d04 shingle
    * sets — the ASYMMETRIC overlap Jaccard structurally misses: a
    * short doc wholly quoted inside a long one has tiny
    * |A∩B|/|A∪B| (d04 scores it low) but containment ≈ 1 from the
    * short side. That subset-duplication case (quoted articles,
    * chapter extractions, README-embedded licenses) is what a
    * document-level dedup pass drops AFTER t14 has handled span-level
    * repeats. Emits BOTH directions of every LSH candidate pair —
    * containment is direction-dependent, and which side is "the
    * contained one" is the verdict a curation rule consumes.
    *
    * Same scale shape as d04: candidates come from the banded
    * MinHash index (Σ|bucket|², never all-pairs), shingle sets join
    * in by doc_id (hash-uniform), and the intersection is the
    * codegen'd two-pointer merge over sorted arrays. The n² lives
    * only in the oracle's candidate CTE, which recomposes the same
    * bands.
    */
  private def d18(s: SparkSession, dir: String): DataFrame = {
    val cand = candidatesTable(s, dir)
    val sh = sh3Table(s, dir)
    // r17: hydrate each UNDIRECTED candidate once — |A∩B| is symmetric,
    // so the two-pointer intersect runs per pair and BOTH directions
    // are emitted afterwards from the counted row (guide §2.3: the old
    // both-directions stream pushed every shingle array through the
    // two-hop hydration twice — 107 MB of shuffle write, half of it
    // recomputing the mirror of the other half). The directions come
    // out of ONE explode, not a union of two projections — Catalyst
    // duplicates a union's subtree per branch (the d07 r16 lesson),
    // which would re-run the whole hydration and undo the halving.
    // Same two-hop SHUFFLE_HASH rule as d04: the SMJ alternative sorts
    // the array-carrying pair stream (the measured sf3 spill hazard).
    val once = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh3").as("sha"))
        .hint("SHUFFLE_HASH"), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh3").as("shb"))
        .hint("SHUFFLE_HASH"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(col("sha")).cast("long").as("na"),
        size(col("shb")).cast("long").as("nb"),
        graft.functions.SortedIntersectCount
          .sortedIntersectCount(col("sha"), col("shb")).as("ni"))
    once
      .select(explode(array(
        struct(col("doc_a"), col("doc_b"), col("na").as("n_a"),
          col("ni").as("n_inter")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"),
          col("nb").as("n_a"), col("ni").as("n_inter")))).as("r"))
      .select(col("r.doc_a").as("doc_a"), col("r.doc_b").as("doc_b"),
        col("r.n_a").as("n_a"), col("r.n_inter").as("n_inter"),
        (col("r.n_inter").cast("double") / col("r.n_a").cast("double"))
          .as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val d18Sql = s"""
    WITH $mhCteDuck, $bandsCteDuck, $candCteDuck,
    bothdirs AS (
      SELECT doc_a, doc_b FROM cand
      UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM cand),
    sh AS ($sh3Duck)
    SELECT c.doc_a, c.doc_b,
      CAST(len(x.sh3) AS BIGINT) AS n_a,
      CAST(len(list_intersect(x.sh3, y.sh3)) AS BIGINT) AS n_inter,
      CAST(len(list_intersect(x.sh3, y.sh3)) AS DOUBLE)
        / CAST(len(x.sh3) AS DOUBLE) AS containment
    FROM bothdirs c
    JOIN sh x ON x.doc_id = c.doc_a
    JOIN sh y ON y.doc_id = c.doc_b
    ORDER BY c.doc_a, c.doc_b"""

  // ---- d05: embedding cosine near-dup within label buckets ----------
  // The label join is the op's semantics (within-source near-dup), not
  // a blocking heuristic — but it is ALSO the only exact blocking this
  // threshold admits. Re-blocking on sign-LSH buckets was measured and
  // REJECTED: at τ=0.30 on these (isotropic) embeddings, qualifying
  // pairs disagree in up to 3 of 8 sign bits in the BEST of 16 tables
  // (8 contiguous + 8 strided dim groups, measured at sf0.001/0.01/
  // 0.1), so recall-1.0 multi-probe must cover Σ_{d≤3} C(8,d) = 93 of
  // 256 buckets per table — the "candidate" set degenerates to ≈ all
  // pairs and the hash-exact oracle would still be at risk on any new
  // data draw. (Re-measured against the calibrated round-9 family: the
  // qualifying pairs sit at cos 0.30–0.45 — 82/111/1449 pairs at the
  // three shipped SFs, none above 0.52 — squarely the LSH-hostile
  // angle regime.) Exact low-threshold similarity join is inherently
  // pairwise; d05 is therefore the EXACT ORACLE with a documented
  // envelope (pair space n²/|labels|), and the registered scale path
  // is d12 below — the calibrated s06 candidate family, exact-cosine-
  // filtered and recall-measured against this oracle (the s06-vs-s04
  // pattern). Raising τ into the true near-dup regime (τ ≥ 0.9:
  // expected sign disagreement 64·θ/π ≈ 9 of 64 bits) would make
  // pigeonhole blocking exact-capable again.
  private def d05(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
      .withColumn("nrm", graft.functions.VectorFunctions.floatNorm(col("embedding")))
    val a = e.select(col("label"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("label").as("label_b"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("label") === col("label_b") && col("vec_a") < col("vec_b"))
      .withColumn("cos",
        graft.functions.VectorFunctions.floatDot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.30)
      .select(col("label"), col("vec_a"), col("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private val d05Sql = s"""
    WITH e AS (
      SELECT label, vec_id, embedding, ${Cosine.normDuck("embedding")} AS nrm
      FROM embeddings)
    SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
      ${Cosine.dotDuck("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ${Cosine.dotDuck("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.30
    ORDER BY vec_a, vec_b"""

  // ---- d12: near-dup at scale via the calibrated ANN family ---------
  // The registered SCALE path for d05: candidate pairs come from the
  // same deterministic sign-LSH family the s06 KNN graph runs
  // (sim.Similarity.annParams derives (bits, tables) from the corpus
  // size; the oracle rederives the identical family from count(*)),
  // then only candidates pay the exact cosine and the τ ≥ 0.30 +
  // within-label filters. The plan contains no within-bucket cartesian
  // over unbounded buckets — per-bucket occupancy is held at n/2^bits
  // ∈ [2, 4) by construction, so candidate volume is ~linear in n
  // where d05's label-blocked all-pairs is n²/|labels| (measured 24×
  // at 10× vectors). Output ⊆ d05 by construction (same exact final
  // filters); DedupSpec measures the recall against the exact oracle
  // on every shipped corpus.
  /** The near-dup pair table, materialized once per (session, corpus)
    * — the same amortized-index lifecycle as d02's signature store and
    * s06's ANN graph (a dedup artifact is read many times per corpus).
    */
  /** The materialized near-dup pair table (vec_a < vec_b, label, cos)
    * — shared by d12's registered census and d17's clustering.
    */
  private[dedup] def neardupTable(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"d12neardup:$dir", "graft_d12")(d12Build(s, dir))

  private def d12(s: SparkSession, dir: String): DataFrame =
    neardupTable(s, dir).orderBy(col("vec_a"), col("vec_b"))

  private def d12Build(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
      .withColumn("nrm", graft.functions.VectorFunctions.floatNorm(col("embedding")))
    val n = e.count()
    val (bits, tables) = graft.sim.Similarity.annParams(n)
    if (n <= graft.sim.Similarity.annBroadcastEnvelopeRows)
      d12Broadcast(e, bits, tables)
    else d12Bucketed(s, dir, bits, tables)
  }

  /** The in-envelope d12 plan. RAW candidate stream (duplicates
    * included, zero shuffles): the exact-cosine + label filters run
    * map-side FIRST — they kill the overwhelming share of candidates
    * — and only the tiny survivor set pays the distinct. Deduping the
    * full raw stream up front was measured at sf1 as the dominant
    * cost of the whole query.
    */
  private[graft] def d12Broadcast(e: DataFrame, bits: Int, tables: Int): DataFrame = {
    val cands = graft.sim.Similarity.signCandidatesRaw(e,
        graft.sim.Similarity.scaledDimGroups(bits, tables),
        graft.sim.Similarity.scaledProbeMasks(bits))
      .filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("vec_a"), col("neighbor_id").as("vec_b"))
    val a = e.select(col("label"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("label").as("label_b"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    cands.join(broadcast(a), Seq("vec_a")).join(broadcast(b), Seq("vec_b"))
      .filter(col("label") === col("label_b"))
      .withColumn("cos",
        graft.functions.VectorFunctions.floatDot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.30)
      .select(col("label"), col("vec_a"), col("vec_b"), col("cos"))
      .distinct()
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The past-the-envelope d12 plan: candidates from the (t, sig)-
    * bucketed signature index, pair hydration against the bucketed
    * vector store — nothing broadcast, nothing corpus-sized in one
    * place. The candidate set arrives DISTINCT (the bucketed stream
    * dedups the narrow pairs before any vector is attached), so no
    * final distinct is needed: both vector joins are 1:1.
    * Bit-equal to [[d12Broadcast]] (DedupSpec pins it with
    * autoBroadcastJoinThreshold=-1).
    */
  private[graft] def d12Bucketed(s: SparkSession, dir: String,
      bits: Int, tables: Int): DataFrame = {
    // signCandidatesBucketed pairs arrive CANONICAL (query_id <
    // neighbor_id) — exactly the (vec_a, vec_b) orientation d12 needs
    val cands = graft.sim.Similarity.signCandidatesBucketed(s, dir, bits, tables)
      .select(col("query_id").as("vec_a"), col("neighbor_id").as("vec_b"))
    val vecs = graft.sim.Similarity.bucketedVecs(s, dir)
    val a = vecs.select(col("label"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = vecs.select(col("label").as("label_b"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    cands.join(a, Seq("vec_a")).join(b, Seq("vec_b"))
      .filter(col("label") === col("label_b"))
      .withColumn("cos",
        graft.functions.VectorFunctions.floatDot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.30)
      .select(col("label"), col("vec_a"), col("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private val d12Sql = s"""
    WITH ${graft.sim.Similarity.annCandidateCtes},
    cpairs AS (
      SELECT DISTINCT least(query_id, neighbor_id) AS vec_a,
        greatest(query_id, neighbor_id) AS vec_b
      FROM cand),
    el AS (
      SELECT label, vec_id, embedding, ${Cosine.normDuck("embedding")} AS nrm
      FROM embeddings)
    SELECT a.label, cp.vec_a, cp.vec_b,
      ${Cosine.dotDuck("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
    FROM cpairs cp
    JOIN el a ON a.vec_id = cp.vec_a
    JOIN el b ON b.vec_id = cp.vec_b AND b.label = a.label
    WHERE ${Cosine.dotDuck("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.30
    ORDER BY vec_a, vec_b"""

  // ---- d17: semantic dedup clusters over the ANN pair table ----------
  /** Embedding-space dedup CLUSTERS (the SemDeDup composition; public
    * reference: the SemDeDup paper's cluster-then-keep-one shape):
    * d12's calibrated ANN near-dup pairs, closed into connected
    * components with one canonical keeper per cluster — the embedding
    * analog of d06's shingle-based cluster census (the SemDeDup
    * paper's coarse-quantizer training pass exists as
    * [[graft.sim.Kmeans]], s10's trained IVF cells), and the step that
    * turns a pair list into an actionable drop set. Every vector is
    * emitted (isolated vectors are their own singleton cluster), so
    * the output is directly joinable as a per-row verdict column.
    *
    * Scale shape: rides the memoized [[neardupTable]] (candidate
    * volume ~linear in n — the d12 design), then hash-min label
    * propagation whose round count is bounded by the largest cluster
    * DIAMETER (near-dup clusters are small and dense — the same
    * regime d06 runs in), each round one shuffle on node-sized label
    * frames. The census column is a map-side-combining
    * groupBy(cluster_id).count() joined back (one row per cluster on
    * the exchange — never a window over the power-law-skewed
    * cluster_id key). Labels are min-vec_id per component —
    * deterministic, and exactly what the oracle's recursive
    * min-closure computes.
    */
  /** d17's propagated member labels, materialized once per (session,
    * corpus) — the clustersTable move applied to the embedding dup
    * graph (r16: the near-dup graph's diameter measured 21 at sf0.1,
    * so the label-propagation loop was 21 latency-bound rounds re-run
    * per query invocation for an unchanging corpus artifact).
    */
  private def d17LabelsTable(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"d17labels:$dir", "graft_d17lab") {
      val pairs = neardupTable(s, dir).select(col("vec_a"), col("vec_b"))
        .localCheckpoint()
      // propagate over PAIR MEMBERS only (the clustersTable pattern):
      // the label frames are sized by the dup set — a sliver of the
      // corpus — and the untouched majority joins in as singletons
      // afterward, one node-sized left join
      val members = pairs.select(col("vec_a").as("node"))
        .unionAll(pairs.select(col("vec_b").as("node"))).distinct()
      val sym = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
        .unionAll(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst")))
      graft.graph.Components.labelPropagate(members, sym)
    }

  private def d17(s: SparkSession, dir: String): DataFrame = {
    val labeled = d17LabelsTable(s, dir)
    val withCluster = Tables(s, dir, "embeddings").select(col("vec_id"))
      .join(labeled, col("vec_id") === labeled("node"), "left")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("cluster_id"))
    // census via map-side-combining groupBy (one row per cluster on
    // the exchange), NOT count-over-window: cluster sizes are
    // power-law, and a window partitioned by cluster_id would shuffle
    // the whole corpus onto the skewed key and sort the giant
    // boilerplate cluster in a single task
    val sizes = withCluster.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .withColumnRenamed("cluster_id", "sz_cluster_id")
    // hash join, not sort-merge: SMJ would SORT the node table by the
    // same power-law key the window fix avoided; with the hint the
    // census builds a per-partition hash table and the node side
    // streams through unsorted
    withCluster
      .join(sizes.hint("SHUFFLE_HASH"), col("cluster_id") === col("sz_cluster_id"))
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
        when(col("vec_id") === col("cluster_id"), 1L).otherwise(0L)
          .as("is_keeper"))
      .orderBy(col("vec_id"))
  }

  private val d17Sql = s"""
    WITH RECURSIVE ${graft.sim.Similarity.annCandidateCtes},
    cpairs AS (
      SELECT DISTINCT least(query_id, neighbor_id) AS vec_a,
        greatest(query_id, neighbor_id) AS vec_b
      FROM cand),
    el AS (
      SELECT label, vec_id, embedding, ${Cosine.normDuck("embedding")} AS nrm
      FROM embeddings),
    nd AS MATERIALIZED (
      SELECT cp.vec_a, cp.vec_b
      FROM cpairs cp
      JOIN el a ON a.vec_id = cp.vec_a
      JOIN el b ON b.vec_id = cp.vec_b AND b.label = a.label
      WHERE ${Cosine.dotDuck("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.30),
    sym AS MATERIALIZED (
      SELECT vec_a AS src, vec_b AS dst FROM nd
      UNION ALL SELECT vec_b, vec_a FROM nd),
    nds AS (SELECT DISTINCT src AS node FROM sym),
    r(a, b) AS (
      SELECT node, node FROM nds
      UNION
      SELECT r.a, e.dst FROM r JOIN sym e ON e.src = r.b),
    cl AS (SELECT a AS vec_id, MIN(b) AS cluster_id FROM r GROUP BY a)
    SELECT e.vec_id, coalesce(cl.cluster_id, e.vec_id) AS cluster_id,
      count(*) OVER (PARTITION BY coalesce(cl.cluster_id, e.vec_id)) AS cluster_size,
      CAST(CASE WHEN e.vec_id = coalesce(cl.cluster_id, e.vec_id) THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
    FROM embeddings e LEFT JOIN cl ON cl.vec_id = e.vec_id
    ORDER BY e.vec_id"""

  // ---- d06: near-dup clustering -------------------------------------
  // LSH candidates with ≥5/9 matching signatures form a dup graph;
  // connected components pick one canonical survivor per cluster —
  // the full "dedup a crawl" pipeline (candidate generation ->
  // verification -> transitive clustering -> survivor choice) with
  // every stage distributed.
  private def d06(s: SparkSession, dir: String): DataFrame =
    clustersTable(s, dir)
      .select(col("doc_id"), col("cluster_id"),
        when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L).as("is_keeper"))
      .orderBy(col("doc_id"))

  /** CTE chain ending in r(a, b) = reachability over the dup graph —
    * shared by d06 and d08.
    */
  private val dupGraphCtes: String = {
    val matches = (0 until K).map(i =>
      s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""$mhCteDuck, $bandsCteDuck, $candCteDuck,
    dups AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b FROM cand c
      JOIN mh x ON x.doc_id = c.doc_a
      JOIN mh y ON y.doc_id = c.doc_b
      WHERE $matches >= 5),
    sym AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM dups
      UNION ALL SELECT doc_b, doc_a FROM dups),
    nds AS (SELECT DISTINCT src AS node FROM sym),
    r(a, b) AS (
      SELECT node, node FROM nds
      UNION
      SELECT r.a, e.dst FROM r JOIN sym e ON e.src = r.b)"""
  }

  private val d06Sql = s"""
    WITH RECURSIVE $dupGraphCtes
    SELECT a AS doc_id, MIN(b) AS cluster_id,
      CAST(CASE WHEN a = MIN(b) THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
    FROM r GROUP BY a ORDER BY doc_id"""

  // ---- d07: SimHash Hamming-neighbor counts -------------------------
  // Pigeonhole-partitioned similarity join: any two 16-bit fingerprints
  // within Hamming distance ≤3 agree on at least one of their 4
  // nibbles, so joining on (nibble index, nibble value) finds every
  // such pair while touching only same-nibble buckets — the scale form
  // of a Hamming join (the n² cross join is the oracle, not the plan).
  private def d07(s: SparkSession, dir: String): DataFrame = {
    val fp = simhashTable(s, dir)
    val keyed = fp.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        expr(s"shiftright(simhash, ${4 * i}) & 15")): _*)).as(Seq("nidx", "nib")))
    // r17: SALT the bucket join (guide §2.5). The join key has only
    // 4 x 16 = 64 distinct values, and AQE's byte-based coalescing saw
    // ~1 MB of fingerprints and serialized the whole Σ|bucket|² pair
    // generation + Hamming verify onto a couple of tasks (measured:
    // 19 tasks total, 2.6 s). A deterministic salt (doc_a mod SALT) on
    // one side, exploded on the other, fans each bucket's pair space
    // over SALT reducers; the explicit-count repartition pins the
    // layout AQE would otherwise coalesce away. Pair set unchanged —
    // each (a, b) still meets exactly once, at salt = doc_a mod SALT.
    // both salts are bigint (pmod of the bigint doc_id), so the join
    // keys carry no cast and the pinned repartitions already satisfy
    // the join's distribution — no extra exchange of the exploded side
    val SALT = 8L
    val p = graft.util.Par.shufflePartitions(s)
    val a = keyed.toDF("doc_a", "sha", "nidx", "nib")
      .withColumn("salt", pmod(col("doc_a"), lit(SALT)))
    val b = keyed.toDF("doc_b", "shb", "nidx_b", "nib_b")
      .withColumn("salt_b", explode(array((0L until SALT).map(lit(_)): _*)))
    val pairs = a.repartition(p, col("nidx"), col("nib"), col("salt"))
      .join(b.repartition(p, col("nidx_b"), col("nib_b"), col("salt_b")),
        col("nidx") === col("nidx_b") && col("nib") === col("nib_b") &&
        col("salt") === col("salt_b") && col("doc_a") < col("doc_b"))
      .filter(expr("bit_count(sha ^ shb) <= 3"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // r16: one explode instead of a union of two projections — the
    // union made Catalyst DUPLICATE the whole Σ|bucket|² nibble-join
    // subtree (one copy per branch, visible in the r16 before-plan);
    // the exploded endpoint stream references the pair join once.
    val sym = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
    Tables(s, dir, "documents").select(col("doc_id"))
      .join(sym.groupBy(col("doc_id")).agg(count(lit(1)).as("n_near")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_near"), lit(0L)).as("n_near"))
      .orderBy(col("doc_id"))
  }

  private val d07Sql = s"""
    WITH $fpsCteDuck,
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM fps a JOIN fps b
        ON a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3),
    sym AS (SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs)
    SELECT d.doc_id, count(s.doc_id) AS n_near
    FROM documents d LEFT JOIN sym s ON s.doc_id = d.doc_id
    GROUP BY d.doc_id ORDER BY d.doc_id"""

  // ---- d08: quality-aware survivor selection ------------------------
  // Production curation picks the BEST doc per dup cluster, not the
  // lowest id: rank cluster members by quality score (t02's exact
  // arithmetic, so both engines agree bit-for-bit), tiebreak doc_id.
  private def d08(s: SparkSession, dir: String): DataFrame = {
    val clusters = clustersTable(s, dir)
    val quality = graft.text.TextOps.qualityScores(s, dir)
      .select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    clusters.join(quality, Seq("doc_id"))
      .withColumn("rank_in_cluster", row_number().over(w))
      .withColumn("keep", when(col("rank_in_cluster") === 1, 1L).otherwise(0L))
      .select(col("cluster_id"), col("doc_id"), col("quality_score"),
        col("rank_in_cluster"), col("keep"))
      .orderBy(col("cluster_id"), col("rank_in_cluster"))
  }

  private def d08Sql: String = s"""
    WITH RECURSIVE $dupGraphCtes,
    clusters AS (
      SELECT a AS doc_id, MIN(b) AS cluster_id FROM r GROUP BY a),
    quality AS (${graft.text.TextOps.qualityScoreSql}),
    ranked AS (
      SELECT c.cluster_id, c.doc_id, q.quality_score,
        row_number() OVER (PARTITION BY c.cluster_id
          ORDER BY q.quality_score DESC, c.doc_id) AS rank_in_cluster
      FROM clusters c JOIN quality q ON q.doc_id = c.doc_id)
    SELECT cluster_id, doc_id, quality_score, rank_in_cluster,
      CAST(CASE WHEN rank_in_cluster = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM ranked ORDER BY cluster_id, rank_in_cluster"""

  // ---- d09: cross-source contamination ------------------------------
  // Dup clusters spanning ≥2 `source` values — inter-source
  // duplication is how benchmark contamination and crawl overlap show
  // up in a training corpus; one join from the materialized cluster
  // table to the source column.
  private def d09(s: SparkSession, dir: String): DataFrame =
    clustersTable(s, dir)
      .join(Tables(s, dir, "documents").select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"))
      .filter(col("n_sources") >= 2)
      .orderBy(col("cluster_id"))

  private val d09Sql = s"""
    WITH RECURSIVE $dupGraphCtes,
    clusters AS (
      SELECT a AS doc_id, MIN(b) AS cluster_id FROM r GROUP BY a)
    SELECT c.cluster_id, count(DISTINCT d.source) AS n_sources,
      count(*) AS n_docs
    FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    GROUP BY c.cluster_id
    HAVING count(DISTINCT d.source) >= 2
    ORDER BY c.cluster_id"""

  // ---- d10: deterministic train/val/test split ----------------------
  // Hash-bucket assignment (first md5 hex nibble of the doc id:
  // 0-b=train 12/16, c-d=val 2/16, e-f=test 2/16) — content-stable,
  // reproducible across runs and engines, no RNG state to coordinate
  // across 1000 executors. The per-(lang, split) census is the sanity
  // check a data curator runs before training.
  private def d10(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("nib", substring(md5(concat(lit("split:"), col("doc_id").cast("string")).cast("binary")), 1, 1))
      .withColumn("split",
        when(col("nib").isin("c", "d"), "val")
          .when(col("nib").isin("e", "f"), "test")
          .otherwise("train"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"), col("split"))

  private val d10Sql = s"""
    WITH assigned AS (
      SELECT lang, n_chars,
        CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
             WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('e', 'f') THEN 'test'
             ELSE 'train' END AS split
      FROM documents)
    SELECT lang, split, count(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY lang, split ORDER BY lang, split"""

  // ---- d11: LSH index quality census --------------------------------
  // Histogram of candidate pairs by number of matching signatures
  // (0..9) — the index-tuning evidence: too many low-match candidates
  // means the banding is too loose, too few high-match ones means
  // recall is at risk. Reuses the materialized candidate + signature
  // tables.
  private def d11(s: SparkSession, dir: String): DataFrame = {
    val mh = minhashTable(s, dir)
    val a = mh.toDF("doc_a" +: (0 until K).map(i => s"a$i"): _*)
    val b = mh.toDF("doc_b" +: (0 until K).map(i => s"b$i"): _*)
    val matches = (0 until K).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
    candidatesTable(s, dir).join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .select(matches.as("n_matches"))
      .groupBy(col("n_matches")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("n_matches"))
  }

  private val d11Sql = {
    val matches = (0 until K).map(i =>
      s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""
    WITH $mhCteDuck, $bandsCteDuck, $candCteDuck
    SELECT $matches AS n_matches, count(*) AS n_pairs
    FROM cand c
    JOIN mh x ON x.doc_id = c.doc_a
    JOIN mh y ON y.doc_id = c.doc_b
    GROUP BY 1 ORDER BY n_matches"""
  }

  // ---- d13: train→eval contamination scan ---------------------------
  /** Benchmark-contamination audit over d10's deterministic split:
    * for every eval-side (test-split) document, how many of its
    * distinct 8-gram token windows also appear anywhere in the train
    * split — the standard n-gram-overlap decontamination check run
    * before an eval set is trusted.
    *
    * Scale shape: both sides explode to per-doc DISTINCT 8-grams and
    * meet in ONE equi-join keyed by a 64-bit gram digest (a 16-hex-char
    * md5 prefix) — the exchange carries a fixed-width key instead of
    * arbitrary-length text, the key space is hash-uniform so no salt
    * is needed, and the train side IS the materialized [[GramIndex]]
    * (the corpus-lifetime distinct-gram store a production
    * decontaminator builds once per training snapshot and APPENDS per
    * crawl batch — O(batch) appends through bloom-pruned membership,
    * delta == rebuild proven in GramIndexSpec), read here through the
    * per-(session, corpus) memo so repeated audits never re-shingle
    * the train split. Digest
    * collisions are not a parity risk: both engines compute the same
    * md5, so both see the identical collision, and at 64 bits the
    * expected collision count stays < 1 up to ~10^9 distinct grams per
    * the birthday bound — and a real deployment shards the same audit
    * per training snapshot anyway.
    */
  /** The audit's n-gram order and the per-doc DISTINCT gram digests of
    * a (doc_id, text) frame: (doc_id, g64), g64 = 16-hex md5 prefix of
    * the space-joined token window — the one digest function d13 and
    * [[GramIndex]] share, so the served index and the flat oracle key
    * the same space.
    */
  private[dedup] val GramN = 8
  private[graft] def docGrams8(docs: DataFrame): DataFrame = {
    val toksExpr = "filter(split(text, ' '), t -> t != '')"
    val parts = (0 until GramN).map(j => s"element_at(toks, i + $j)").mkString(", ")
    val gramExpr = s"""CASE WHEN size(toks) >= $GramN THEN
        transform(sequence(1, size(toks) - ${GramN - 1}), i -> concat_ws(' ', $parts))
      ELSE array() END"""
    docs
      .withColumn("toks", expr(toksExpr))
      .select(col("doc_id"), explode(expr(gramExpr)).as("gram"))
      .select(col("doc_id"),
        substring(md5(col("gram").cast("binary")), 1, 16).as("g64"))
      .distinct()
  }

  /** The d10 split nibble (first md5 hex of "split:" ‖ doc_id). */
  private def splitNib =
    substring(md5(concat(lit("split:"), col("doc_id").cast("string")).cast("binary")), 1, 1)

  /** The train split's [[GramIndex]], materialized once per (session,
    * corpus) — the once-per-training-snapshot store d13 serves from.
    * In production the same index is APPENDED per crawl batch
    * (GramIndex.append — delta == rebuild proven in GramIndexSpec)
    * instead of rebuilt; the session memo is the static-snapshot
    * analog, exactly like the s06 signature index.
    */
  private[graft] def trainGramIndex(s: SparkSession, dir: String): GramIndex = {
    val idxDir = graft.util.MatStore.scratchDir(s, s"gramidx:$dir", "graft_gramidx") { p =>
      new GramIndex(s, p).build(
        Tables(s, dir, "documents")
          .filter(!splitNib.isin("c", "d", "e", "f"))
          .select(col("doc_id"), col("text")))
    }
    new GramIndex(s, idxDir)
  }

  private def d13(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // eval side: per-doc distinct grams of the TEST split only — the
    // filter lands before shingling, so the audit's explode is sized
    // by the eval set, not the corpus
    val evalGrams = docGrams8(docs.filter(splitNib.isin("e", "f")))
    // train side: the materialized index's corpus-lifetime gram set
    contamination(evalGrams, trainGramIndex(s, dir).grams()).orderBy(col("doc_id"))
  }

  /** d13's audit: per doc of `grams` (doc_id, g64), its distinct gram
    * count, how many of them the `train` gram set (g64) holds, and
    * their ratio. The streaming decontamination audits each
    * micro-batch with it.
    */
  private[graft] def contamination(grams: DataFrame, train: DataFrame): DataFrame =
    grams
      .join(train.withColumn("hit", lit(1L)), Seq("g64"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination_frac",
        col("n_contaminated").cast("double") / col("n_grams").cast("double"))

  private val d13Sql = {
    val toksDuck = "list_filter(string_split(text, ' '), t -> t != '')"
    val parts = (0 until 8).map(j => if (j == 0) "toks[i]" else s"toks[i + $j]").mkString(" || ' ' || ")
    s"""
    WITH grams AS (
      SELECT DISTINCT doc_id,
        substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) AS nib,
        substr(md5(gram), 1, 16) AS g64
      FROM (
        SELECT doc_id, unnest(CASE WHEN len(toks) >= 8 THEN
            list_transform(range(1, len(toks) - 6), i -> $parts)
          ELSE [] END) AS gram
        FROM (SELECT doc_id, $toksDuck AS toks FROM documents))),
    train AS (
      SELECT DISTINCT g64 FROM grams WHERE nib NOT IN ('c', 'd', 'e', 'f'))
    SELECT g.doc_id, count(*) AS n_grams,
      CAST(SUM(CASE WHEN t.g64 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_contaminated,
      CAST(SUM(CASE WHEN t.g64 IS NULL THEN 0 ELSE 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        AS contamination_frac
    FROM grams g LEFT JOIN train t ON t.g64 = g.g64
    WHERE g.nib IN ('e', 'f')
    GROUP BY g.doc_id ORDER BY g.doc_id"""
  }

  // ---- d15: curation funnel census ------------------------------------
  /** The whole curation pipeline as ONE census — the report a data
    * curator reads before training: per source, how many documents
    * enter and how many survive exact dedup, near-dup clustering, and
    * the quality gate, applied cumulatively in pipeline order. The
    * gates are the registered operators' OWN definitions (d01's
    * min-id-per-content-hash keeper, d06's cluster keeper, t02's
    * quality score at a 0.5 cut — the corpus median is ~0.54, so the
    * gate is non-degenerate), which keeps the funnel consistent with
    * the component queries by construction and lets the oracle
    * recompose the identical CTEs. Cost: the memoized cluster table
    * plus one pass over documents and three doc_id equi-joins — at
    * 100 TB nothing here shuffles beyond what the component operators
    * already pay, and the census exchange is bounded by the source
    * count. The quality cut compares doubles both engines compute
    * bit-identically (t02's §4 contract), so the boundary is exact —
    * and it is guarded on n_tok > 0 in BOTH engines: t02's raw
    * stop_ratio is 0/0 = NaN for a zero-token doc, Spark's NaN
    * ordering would pass `NaN >= 0.5`, and DuckDB's 0/0 is
    * settings-dependent, so the explicit gate (t13's convention:
    * zero-token ⇒ quality 0 ⇒ fail) is what pins the cross-engine
    * boundary the moment an empty doc enters the corpus.
    */
  private val QualityCut = 0.5

  private def d15(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val exactKeep = docs
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1L).as("exact_keep"))
    val nearDrop = clustersTable(s, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(1L).as("near_drop"))
    val quality = graft.text.TextOps.qualityScores(s, dir)
      .select(col("doc_id"), col("n_tok"), col("quality_score"))
    docs
      .join(exactKeep, Seq("doc_id"), "left")
      .join(nearDrop, Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"))
      .withColumn("g1", coalesce(col("exact_keep"), lit(0L)))
      .withColumn("g2",
        when(col("g1") === 1L && col("near_drop").isNull, 1L).otherwise(0L))
      .withColumn("g3",
        when(col("g2") === 1L && col("n_tok") > 0 &&
          col("quality_score") >= lit(QualityCut), 1L)
          .otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("g1")).as("n_after_exact"),
        sum(col("g2")).as("n_after_neardup"),
        sum(col("g3")).as("n_survivors"))
      .withColumn("survival_rate",
        col("n_survivors").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("source"))
  }

  private def d15Sql: String = s"""
    WITH RECURSIVE $dupGraphCtes,
    clusters AS (
      SELECT a AS doc_id, MIN(b) AS cluster_id FROM r GROUP BY a),
    exact AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    quality AS (${graft.text.TextOps.qualityScoreSql}),
    flags AS (
      SELECT d.doc_id, d.source,
        CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS g1,
        CASE WHEN e.doc_id IS NOT NULL
               AND (c.doc_id IS NULL OR c.cluster_id = d.doc_id)
             THEN 1 ELSE 0 END AS g2,
        CASE WHEN e.doc_id IS NOT NULL
               AND (c.doc_id IS NULL OR c.cluster_id = d.doc_id)
               AND q.n_tok > 0
               AND q.quality_score >= CAST(0.5 AS DOUBLE)
             THEN 1 ELSE 0 END AS g3
      FROM documents d
      LEFT JOIN exact e ON e.doc_id = d.doc_id
      LEFT JOIN clusters c ON c.doc_id = d.doc_id
      JOIN quality q ON q.doc_id = d.doc_id)
    SELECT source, count(*) AS n_docs,
      CAST(SUM(g1) AS BIGINT) AS n_after_exact,
      CAST(SUM(g2) AS BIGINT) AS n_after_neardup,
      CAST(SUM(g3) AS BIGINT) AS n_survivors,
      CAST(SUM(g3) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS survival_rate
    FROM flags GROUP BY source ORDER BY source"""

  // ---- d14/d16: fuzzy key matching via deletion-neighborhood blocking
  /** Edit-distance-bounded fuzzy matching over an entity-key column
    * (supplier names) — the record-linkage / fuzzy-join operator class
    * (near-identical titles, typo'd entity names) the shingle-based
    * dedups don't cover: MinHash needs enough shingles to estimate
    * overlap, while a key differs by one or two characters.
    *
    * Brute force is n² levenshtein evaluations (what the oracle runs).
    * The scale path is FastSS deletion-neighborhood blocking (Bocek et
    * al. 2007, reference: the public FastSS paper): each DISTINCT key
    * emits its depth-≤k deletion neighborhood (every string obtainable
    * by deleting ≤ k characters, the key itself included), and two
    * keys within edit distance k MUST share a neighborhood element —
    * for k=1: a substitution at i shares the deletion-at-i, an
    * insert/delete shares the shorter string itself. Sharing is
    * necessary but not sufficient (transposed adjacent chars share
    * depth-1 variants at edit distance 2), so the exact levenshtein
    * verifies each candidate — the candidate-generate → exact-verify
    * shape of d02/d04 and d07's pigeonhole nibbles.
    *
    * The neighborhood is `array_distinct`-ed PER KEY before the
    * explode: deleting different characters of an equal-char run
    * yields the SAME variant string (these zero-padded names have
    * ~8-char runs, so the raw depth-1 stream carries ~8 duplicate
    * (key, variant) rows each), and deduping map-side shrinks the
    * candidate join's input — and its Σ|block|² output — by that
    * factor before anything shuffles.
    *
    * Cost: the variant equi-join touches Σ_variant |block|² pairs —
    * blocks are near-singletons for hash-distributed keys — versus n²;
    * everything is one explode + one equi-join + one distinct, no
    * driver state, no quadratic stage at any corpus size. Depth-2
    * neighborhoods are O(len²/2) variants per key — the documented
    * price of the wider radius, still linear in the corpus.
    */
  // kept as the semantic reference for the kernel (PropertySpec pins
  // kernel == this HOF form on hostile generated strings)
  private[graft] def del1Of(x: String): String =
    s"""CASE WHEN length($x) > 0 THEN
          transform(sequence(1, length($x)),
            i -> concat(substring($x, 1, i - 1),
                        substring($x, i + 1, length($x) - i)))
        ELSE array() END"""

  /** Edit-distance-≤maxDist key pairs (name_a < name_b, dist) of the
    * DISTINCT values of `keyCol` — the reusable fuzzy-join core behind
    * d14 (k=1) and d16 (k=2).
    */
  private[graft] def fuzzyKeyPairs(names: DataFrame, keyCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist == 1 || maxDist == 2, s"maxDist 1 or 2, got $maxDist")
    // r16 optimization round, two measured fixes (guide §2.5/§2.2 —
    // partition for the work, not the bytes):
    //   - the name table is spread across the cores BEFORE the
    //     explode: AQE's byte-based coalescing saw ~1 MB of input and
    //     ran the whole neighborhood-explode → join → levenshtein
    //     pipeline (Σ|block|² candidate pairs — zero-padded names
    //     share long runs, so depth-2 blocks are large) on SIX tasks
    //     at sf0.1 — 6.0 s of nearly serial CPU;
    //   - the candidate verifier is the THRESHOLDED levenshtein
    //     (banded O(k·len) DP, early exit), not the full O(len²) DP:
    //     it returns the exact distance when ≤ maxDist and -1 above
    //     it, so `dist` is unchanged for every surviving row.
    // Round-robin, NOT keyed on keyCol: the upstream distinct already
    // hash-partitions on the key, so a keyed repartition is elided as
    // redundant by the planner and the (byte-coalesced, near-serial)
    // layout survives — measured: the keyed form left the query on 6
    // tasks.
    val par = names.sparkSession.sparkContext.defaultParallelism
    val spread = names.repartition(par)
    // the neighborhood is a codegen'd kernel — the HOF form
    // (del1Of chains + flatten + array_distinct, kept above as the
    // semantic reference) interprets O(len²)-O(len³) substring seeks
    // per key; same variant SET, first-seen order (unobservable:
    // explode → equi-join → distinct pairs)
    val variants = spread.select(col(keyCol),
      explode(graft.functions.StringFunctions
        .deletionNeighborhood(col(keyCol), maxDist)).as("v"))
    variants.toDF("name_a", "v")
      .join(variants.toDF("name_b", "v"), Seq("v"))
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"))
      .distinct()
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
  }

  private def d14(s: SparkSession, dir: String): DataFrame =
    fuzzyKeyPairs(Tables(s, dir, "supplier").select(col("s_name")).distinct(),
      "s_name", maxDist = 1)
      .orderBy(col("name_a"), col("name_b"))

  /** d16: the radius-2 form — same blocking family, depth-2 deletion
    * neighborhoods ([[fuzzyKeyPairs]] at maxDist = 2).
    */
  private def d16(s: SparkSession, dir: String): DataFrame =
    fuzzyKeyPairs(Tables(s, dir, "supplier").select(col("s_name")).distinct(),
      "s_name", maxDist = 2)
      .orderBy(col("name_a"), col("name_b"))

  private def fuzzySql(maxDist: Int) = s"""
    WITH n AS (SELECT DISTINCT s_name FROM supplier)
    SELECT a.s_name AS name_a, b.s_name AS name_b,
      CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
    FROM n a JOIN n b ON a.s_name < b.s_name
    WHERE levenshtein(a.s_name, b.s_name) <= $maxDist
    ORDER BY name_a, name_b"""

  private val d14Sql = fuzzySql(1)
  private val d16Sql = fuzzySql(2)

  val ops: Seq[Op] = Seq(
    Op("d01_dedup_exact", d01, Some(d01Sql)),
    Op("d14_fuzzy_names", d14, Some(d14Sql)),
    Op("d16_fuzzy_names_ed2", d16, Some(d16Sql)),
    Op("d15_curation_funnel", d15, Some(d15Sql)),
    Op("d09_cross_source", d09, Some(d09Sql)),
    Op("d10_train_split", d10, Some(d10Sql)),
    Op("d11_lsh_quality", d11, Some(d11Sql)),
    Op("d06_dup_clusters", d06, Some(d06Sql)),
    Op("d07_simhash_neighbors", d07, Some(d07Sql)),
    Op("d08_quality_survivor", d08, Some(d08Sql)),
    Op("d02_minhash_lsh", d02, Some(d02Sql)),
    Op("d03_simhash", d03, Some(d03Sql)),
    Op("d04_ngram_jaccard", d04, Some(d04Sql)),
    Op("d18_containment", d18, Some(d18Sql)),
    Op("d05_embedding_neardup", d05, Some(d05Sql)),
    Op("d12_neardup_ann", d12, Some(d12Sql)),
    Op("d17_semantic_clusters", d17, Some(d17Sql)),
    Op("d13_contamination", d13, Some(d13Sql)))
}
