package graft.sim

import graft.util.Fixpoint
import graft.util.Fixpoint.Until
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed k-means (Lloyd's algorithm) over an embedding column —
  * the trained coarse quantizer behind s10's IVF search (s03's
  * label-partitioned cells are the untrained stand-in; SemDeDup-style
  * pipelines and production IVF indexes train centroids like this).
  *
  * Every step is deterministic and bit-stable across engines so a SQL
  * oracle can unroll it exactly (the g09 unrolled-PageRank pattern):
  *
  *   - SEEDS: the k vectors with the smallest md5(vec_id-as-string)
  *     (id tie-break) — md5-order selection, no RNG to coordinate;
  *     cell ids 0..k-1 in that same order.
  *   - ASSIGN: nearest centroid by cosine, computed with the
  *     [[Cosine]] left-fold contract (identical bits in DuckDB), ties
  *     to the smallest cell id. The argmax is a map-side-combining
  *     `max(struct(cos, k - cell))` aggregate — the n×k candidate
  *     stream partial-aggregates to one row per vector per partition
  *     BEFORE the exchange, so the shuffle is n rows, never n×k, and
  *     nothing sorts.
  *   - UPDATE: new centroid = per-dimension decimal-exact mean
  *     ([[graft.par.dsum]], the §4 rule — partial-agg order can't
  *     perturb the bits). posexplode streams n×dim narrow rows that
  *     map-side-combine to k×dim before the exchange. A cell that
  *     captures no vectors keeps its previous centroid.
  *
  * Scale shape per iteration: one broadcast of k centroids (k is
  * small by construction), one n-row exchange for assignment, one
  * k×dim-row exchange for the update — textbook scalable Lloyd's; no
  * driver-side state (seeds are selected distributedly, the k-row
  * centroid table stays a DataFrame).
  */
object Kmeans {

  /** (cell, centroid: array<double>) seed table — the k smallest
    * md5(vec_id) rows, cells numbered in that order.
    */
  def seed(emb: DataFrame, k: Int): DataFrame = {
    val h = emb.withColumn("h", md5(col("vec_id").cast("string").cast("binary")))
      .orderBy(col("h"), col("vec_id")).limit(k)
    // the global window runs over exactly k rows (post-limit) — a
    // single tiny partition, not a corpus-wide sort
    h.withColumn("cell",
        (row_number().over(Window.orderBy(col("h"), col("vec_id"))) - 1).cast("long"))
      .select(col("cell"),
        expr("transform(embedding, x -> cast(x as double))").as("centroid"))
  }

  /** (vec_id, cell) nearest-centroid assignment under `cents`
    * ((cell, centroid) with k rows); cosine, ties to smallest cell.
    * `emb` must carry (vec_id, embedding, nrm).
    */
  def assign(emb: DataFrame, cents: DataFrame, k: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding"), col("nrm"))
      .crossJoin(broadcast(cents))
      .withColumn("ccos",
        expr(Cosine.dotSpark("embedding", "centroid")) /
          (col("nrm") * expr(Cosine.normSpark("centroid"))))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("ccos"), (lit(k.toLong) - col("cell")).as("inv"))).as("b"))
      .select(col("vec_id"), (lit(k.toLong) - col("b.inv")).as("cell"))

  /** Train k centroids with `iters` fixed Lloyd iterations; returns
    * (cell, centroid: array<double>). Fixed iteration count (not a
    * convergence probe) so the oracle can unroll it exactly.
    */
  def fit(emb: DataFrame, k: Int, iters: Int): DataFrame =
    Fixpoint.iterate(seed(emb, k).localCheckpoint(), Until.Rounds, iters) { (cents, _) =>
      val asg = assign(emb, cents, k)
      val updated = asg.join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg((graft.par.dsum(col("v").cast("double"), 9) / count(lit(1))).as("cv"))
        .groupBy(col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), x -> x.cv)")
          .as("centroid"))
      cents.select(col("cell"), col("centroid").as("prev"))
        .join(updated, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("centroid"), col("prev")).as("centroid"))
    }._1
}
