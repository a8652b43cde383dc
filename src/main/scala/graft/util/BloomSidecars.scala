package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.{col, struct, udf}
import org.apache.spark.util.sketch.BloomFilter

/** The format of the per-segment bloom sidecars of the incremental
  * indexes: one false-positive rate, the build, the file round trip and
  * the probe column. [[SegmentedIndex]] owns how sidecars are written
  * and probed, and states their contract.
  *
  * Envelope, priced honestly: sidecar TOTAL is ~2.4 B/key — 100-odd
  * times under the rows they stand in for, but still linear in corpus
  * lifetime (24 GB at 10^10 keys), and the probe broadcasts them.
  * Two structural mitigations, both preserved by this design: segment
  * COMPACTION (the indexes' `compact()`) keeps the sidecar count
  * bounded so the per-trigger open/footer cost doesn't grow with
  * ingest count, and because membership is per-segment with no false
  * negatives, the probe can be sharded (each executor holding a
  * subset of blooms, keys routed by segment) without changing any
  * answer when the broadcast form stops fitting.
  */
object BloomSidecars {

  /** False-positive rate. Expected spurious segment reads per trigger
    * are ~fpp × probe keys × segments — at 1e-4 and a 10^3-key
    * trigger against a year of segments, ~0.04; the sidecar costs
    * 19.2 bits ≈ 2.4 B per key. At 0.001, StreamingSpec's crawl-dedup
    * read-flatness case measured 1-2 false-positive segment reads per
    * trigger as spikes.
    */
  val Fpp: Double = 0.0001

  /** Bloom over `column` of `df` (`n` = row estimate; `n == 0` yields
    * an empty never-matching bloom — the sketch aggregate returns
    * null on zero rows). A frame Spark would broadcast is collected in
    * one `executeCollect` (no job over a local relation) and hashed on
    * the driver into the buffer of Spark's own `bloom_filter_agg`
    * aggregate, so its sizing caps and per-type hashing (integral keys
    * as longs, strings as UTF-8 bytes, nulls skipped) are the
    * aggregate's; a larger frame runs the aggregate.
    */
  def build(df: DataFrame, column: String, n: Long): BloomFilter =
    if (n == 0) BloomFilter.create(1, Fpp)
    else if (Par.broadcastSized(df)) {
      val keys = df.select(col(column))
      val agg = new BloomFilterAggregate(
        BoundReference(0, keys.schema.head.dataType, nullable = true),
        Literal(n), Literal(BloomFilter.optimalNumOfBits(n, Fpp)))
      Par.collectRows(keys, s"bloom $column").foldLeft(agg.createAggregationBuffer())(agg.update)
    } else df.stat.bloomFilter(column, n, Fpp)

  def write(fs: FileSystem, p: Path, bf: BloomFilter): Unit = {
    val out = fs.create(p, true)
    try bf.writeTo(out) finally out.close()
  }

  /** null when the sidecar is missing (a segment predating blooms). */
  def read(fs: FileSystem, p: Path): BloomFilter =
    if (!fs.exists(p)) null
    else {
      val in = fs.open(p)
      try BloomFilter.readFrom(in) finally in.close()
    }

  /** Column of the indices into `bc`'s blooms that may hold the key
    * in `key`, an integral or string column (a null key matches none;
    * a missing, null, bloom matches every key). The blooms ride a
    * broadcast: shipped once per executor, not per task closure.
    */
  def hits(bc: Broadcast[Array[BloomFilter]])(key: Column): Column = {
    val f = udf((r: Row) => {
      val k = r.get(0)
      val a = bc.value
      if (k == null) Seq.empty[Int]
      else a.indices.filter(i => a(i) == null || a(i).mightContain(k))
    })
    f(struct(key))
  }
}
