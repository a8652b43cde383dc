package graft.sim

import graft.util.Fixpoint
import graft.util.Fixpoint.Until
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid 2011, "Product
  * Quantization for Nearest Neighbor Search" — public literature):
  * split the 64-d embedding into M = 4 contiguous 16-d subvectors,
  * train an independent K = 16-centroid codebook per subspace
  * (deterministic Lloyd's — the [[Kmeans]] recipe run over all
  * subspaces in ONE keyed stream), and store each vector as M small
  * codes — 4 bytes instead of 256 B of float32: a 64× compression of
  * the searchable store, the memory lever PAST s08's int8 scalar
  * quantization (4×). At 100 TB this is the difference between an
  * index that fits in cluster RAM and one that doesn't.
  *
  * Search is ADC (asymmetric distance computation): the query stays
  * full precision; per subspace the lookup table carries
  * lut[m][code] = ⟨q_m, centroid_{m,code}⟩ (M·K = 64 doubles per
  * query), and the approximate inner product is Σ_m lut[m][code_m(x)]
  * — scoring never touches the corpus float store.
  *
  * Determinism (the §4 / [[Kmeans]] discipline, so a DuckDB oracle can
  * unroll training exactly):
  *   - SEEDS: the K smallest md5(vec_id) vectors' slices, codes
  *     0..K-1 in that order, shared across subspaces — no RNG.
  *   - ASSIGN: nearest centroid by L2, computed as
  *     argmax(⟨sv, c⟩ − ‖c‖²/2) with double LEFT-FOLDS in index order
  *     (the [[Cosine]] contract — identical bits in DuckDB); ties to
  *     the smallest code. The argmax is a map-side-combining
  *     `max(struct)` aggregate: the (n·M)×K candidate stream
  *     partial-aggregates to one row per (vector, subspace) BEFORE
  *     the exchange.
  *   - UPDATE: per-dimension decimal-exact means ([[graft.par.dsum]]
  *     — partial-agg order can't perturb the bits); an empty (m, code)
  *     cell keeps its previous centroid.
  *   - ADC SUM: the M pdot terms ride a DECIMAL(38,9) cast before
  *     SUM, so the 4-way add is order-independent too.
  *
  * Scale shape per training iteration: one broadcast of M·K = 64
  * centroid rows, one n·M-row exchange for assignment, one
  * M·K·SUB-row exchange for the update — linear scans, no driver
  * state. Encoding is the same assignment pass; the LUT join at query
  * time is a broadcast of n_queries·M·K rows against the 4-bytes/row
  * code store.
  */
object Pq {
  val M = 4      // subspaces
  val SUB = 16   // dims per subspace (M * SUB = 64-d embeddings)
  val K = 16     // codes per subspace
  val ITERS = 2  // fixed Lloyd iterations (the oracle unrolls them)

  /** Spark SQL: squared L2 norm of an array column (no sqrt — the
    * assignment score needs the exact ‖c‖² term), same left-fold op
    * order as [[Cosine.normSpark]].
    */
  def n2Spark(c: String): String =
    s"""aggregate(sequence(1, size($c)), cast(0.0 as double),
       (acc, i) -> acc + cast(element_at($c, i) as double) * cast(element_at($c, i) as double))"""

  /** DuckDB mirror of [[n2Spark]]. */
  def n2Duck(c: String): String =
    s"""list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, len($c) + 1),
       i -> CAST($c[i] AS DOUBLE) * CAST($c[i] AS DOUBLE)), (x, y) -> x + y)"""

  /** (vec_id, m, sv) sliced view — one row per (vector, subspace);
    * `emb` must carry (vec_id, embedding).
    */
  def sliced(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), explode(sequence(lit(0L), lit(M - 1L))).as("m"),
        col("embedding"))
      .withColumn("sv", expr(s"slice(embedding, m * $SUB + 1, $SUB)"))
      .select(col("vec_id"), col("m"), col("sv"))

  /** (m, code, centroid: array<double>) seed codebooks. */
  def seed(emb: DataFrame): DataFrame = {
    val h = emb.withColumn("h", md5(col("vec_id").cast("string").cast("binary")))
      .orderBy(col("h"), col("vec_id")).limit(K)
    // the window runs over exactly K rows (post-limit) — one tiny
    // partition, not a corpus-wide sort
    h.withColumn("code",
        (row_number().over(Window.orderBy(col("h"), col("vec_id"))) - 1).cast("long"))
      .select(col("code"), explode(sequence(lit(0L), lit(M - 1L))).as("m"),
        col("embedding"))
      .withColumn("centroid",
        expr(s"transform(slice(embedding, m * $SUB + 1, $SUB), x -> cast(x as double))"))
      .select(col("m"), col("code"), col("centroid"))
  }

  /** (vec_id, m, code) nearest-centroid (L2) assignment of the sliced
    * view `sl` under codebooks `cents`.
    */
  def assign(sl: DataFrame, cents: DataFrame): DataFrame =
    sl.join(broadcast(cents), Seq("m"))
      .withColumn("score", expr(Cosine.dotSpark("sv", "centroid")) -
        lit(0.5) * expr(n2Spark("centroid")))
      .groupBy(col("vec_id"), col("m"))
      .agg(max(struct(col("score"), (lit(K.toLong) - col("code")).as("inv"))).as("b"))
      .select(col("vec_id"), col("m"), (lit(K.toLong) - col("b.inv")).as("code"))

  /** Train the M codebooks with [[ITERS]] fixed Lloyd iterations;
    * returns (m, code, centroid).
    */
  def fit(emb: DataFrame): DataFrame = {
    val sl = sliced(emb).localCheckpoint()
    Fixpoint.iterate(seed(emb).localCheckpoint(), Until.Rounds, ITERS) { (cents, _) =>
      val asg = assign(sl, cents)
      val updated = asg.join(sl, Seq("vec_id", "m"))
        .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy(col("m"), col("code"), col("pos"))
        .agg((graft.par.dsum(col("v").cast("double"), 9) / count(lit(1))).as("cv"))
        .groupBy(col("m"), col("code"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), x -> x.cv)")
          .as("centroid"))
      cents.select(col("m"), col("code"), col("centroid").as("prev"))
        .join(updated, Seq("m", "code"), "left")
        .select(col("m"), col("code"),
          coalesce(col("centroid"), col("prev")).as("centroid"))
    }._1
  }

  /** (vec_id, m, code) codes of the whole corpus — the 4-bytes/vector
    * searchable store.
    */
  def encode(emb: DataFrame, cents: DataFrame): DataFrame =
    assign(sliced(emb), cents)
}
