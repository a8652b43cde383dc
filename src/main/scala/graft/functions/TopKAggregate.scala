package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{least, lit, when}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded top-k selection state: the k best (score, payload) pairs
  * seen so far, kept sorted best-first. Ordering is SQL
  * `ORDER BY score DESC, payload ASC`: NaN sorts largest (Spark/SQL
  * sort semantics) and -0.0 equals 0.0 — bit-for-bit the selection a
  * `row_number()` window over the same ORDER BY would make, which is
  * what keeps the DuckDB oracles unchanged.
  */
/** @param distinctPayloads when true, each payload occupies at most
  *   one slot, holding its best (score, payload) entry — top-k over
  *   DISTINCT payloads. This makes an upstream `distinct()` on the
  *   candidate stream redundant: duplicates are absorbed into the
  *   k-element buffer instead of paying a full dedup shuffle. The
  *   partial/merge decomposition stays exact: a payload excluded from
  *   a partition's buffer is beaten there by k distinct payloads
  *   whose global best entries also beat it.
  */
private[graft] final class TopKBuffer(val k: Int, val distinctPayloads: Boolean = false) {
  val scores = new Array[Double](k)
  val payloads = new Array[Long](k)
  var size = 0

  /** SQL total-order comparison of scores. */
  private def scoreCmp(a: Double, b: Double): Int = {
    val an = java.lang.Double.isNaN(a)
    val bn = java.lang.Double.isNaN(b)
    if (an && bn) 0
    else if (an) 1
    else if (bn) -1
    else if (a < b) -1
    else if (a > b) 1
    else 0
  }

  /** true iff (s1,p1) ranks strictly before (s2,p2). */
  private def beats(s1: Double, p1: Long, s2: Double, p2: Long): Boolean = {
    val c = scoreCmp(s1, s2)
    c > 0 || (c == 0 && p1 < p2)
  }

  def insert(score: Double, payload: Long): Unit = {
    if (distinctPayloads) {
      // at most one slot per payload: keep the better entry (same
      // payload ⇒ same score for every registered caller, so this is
      // a pure duplicate-absorb there)
      var j = 0
      while (j < size) {
        if (payloads(j) == payload) {
          if (!beats(score, payload, scores(j), payloads(j))) return
          // new entry wins: remove the old slot, fall through to insert
          var m = j
          while (m < size - 1) {
            scores(m) = scores(m + 1)
            payloads(m) = payloads(m + 1)
            m += 1
          }
          size -= 1
          j = size // exit loop
        }
        j += 1
      }
    }
    if (size == k && !beats(score, payload, scores(k - 1), payloads(k - 1))) return
    // find insertion point (k is small: linear scan)
    var i = if (size == k) k - 1 else size
    while (i > 0 && beats(score, payload, scores(i - 1), payloads(i - 1))) {
      scores(i) = scores(i - 1)
      payloads(i) = payloads(i - 1)
      i -= 1
    }
    scores(i) = score
    payloads(i) = payload
    if (size < k) size += 1
  }

  def mergeFrom(other: TopKBuffer): Unit = {
    var i = 0
    while (i < other.size) {
      insert(other.scores(i), other.payloads(i))
      i += 1
    }
  }
}

/** `top_k_scored(score, payload, k)`: aggregate the k best
  * (score DESC, payload ASC) pairs into a sorted
  * `array<struct<score,payload>>`.
  *
  * This is the top-k-per-group operator the similarity tier runs on.
  * The `row_number() OVER (PARTITION BY g ORDER BY ...) <= k` form
  * Spark plans as a FULL SORT of every group's rows
  * (WindowGroupLimitExec only prunes output, its required child
  * ordering still sorts the whole partition) — on an n² candidate
  * stream that is the dominant cost and, measured at sf1, 32
  * concurrent ~300 MB Tungsten sorts of BNLJ output drove multi-minute
  * G1 full-GC pauses. This aggregate replaces the sort with an O(rows)
  * scan over k-element buffers: partial (map-side) top-k per input
  * partition, tiny k-row states through the shuffle, merge on the
  * final side. At 100 TB the shuffle moves k rows per group instead of
  * every candidate pair.
  *
  * Planning note: with many groups per task, ObjectHashAggregateExec
  * falls back to sort-based aggregation after
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` distinct
  * keys (default 128). Results are identical either way; sessions we
  * own (Bench/Verify/tests) raise the threshold so the hash path —
  * whose per-key state here is ~16k bytes — is actually used.
  */
case class TopKScored(
    score: Expression,
    payload: Expression,
    k: Int,
    distinctPayloads: Boolean = false,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] {

  // Cap sized for the two shipped regimes: tiny-k neighbor lists
  // (k=3) and OrderStats' tail selection (k <= its tailK = 8192, a
  // 128 KB worst-case buffer per group — and only for groups that
  // actually hold that many in-range rows; buffers grow with observed
  // rows, so total state stays bounded by the tail data itself).
  require(k > 0 && k <= 8192, s"top_k_scored: k out of range: $k")

  override def children: Seq[Expression] = Seq(score, payload)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (score.dataType, payload.dataType) match {
      case (DoubleType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (s, p) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"top_k_scored expects (double, bigint), got " +
            s"(${s.catalogString}, ${p.catalogString})")
    }
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("payload", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k, distinctPayloads)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val p = payload.eval(input)
    // Null score or payload: the pair is not rankable — DROPPED. This
    // is the one documented divergence from the row_number window
    // form, which (NULLS LAST) would still emit a null-scored row when
    // a group has fewer than k non-null rows. Every registered caller
    // computes score from non-null arithmetic over inner joins, so the
    // case is unreachable there; standalone users who need null rows
    // ranked must filter/coalesce explicitly.
    if (s != null && p != null) {
      buf.insert(s.asInstanceOf[Double], p.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val out = new Array[Any](buf.size)
    var i = 0
    while (i < buf.size) {
      out(i) = InternalRow(buf.scores(i), buf.payloads(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 16 * buf.size)
    bb.putInt(buf.k)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) {
      bb.putDouble(buf.scores(i))
      bb.putLong(buf.payloads(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val bufK = bb.getInt
    val n = bb.getInt
    // serialized entries are already per-payload deduped when this
    // aggregate runs distinct, so the flag only matters for merges
    val buf = new TopKBuffer(bufK, distinctPayloads)
    var i = 0
    while (i < n) {
      buf.scores(i) = bb.getDouble
      buf.payloads(i) = bb.getLong
      i += 1
    }
    buf.size = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKScored =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKScored =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), payload = newChildren(1))

  override def prettyName: String = "top_k_scored"
}

object TopKAggregate {
  /** Top-k (score DESC, payload ASC) pairs per group as a sorted
    * array column — the windowless top-k.
    */
  def topKScored(score: Column, payload: Column, k: Int): Column =
    ColumnBridge.column(
      TopKScored(ColumnBridge.expression(score),
        ColumnBridge.expression(payload), k).toAggregateExpression())

  /** Top-k over DISTINCT payloads (best entry per payload) — absorbs
    * duplicate candidate pairs into the buffer so the stream above
    * needs no `distinct()` shuffle.
    */
  def topKScoredDistinct(score: Column, payload: Column, k: Int): Column =
    ColumnBridge.column(
      TopKScored(ColumnBridge.expression(score),
        ColumnBridge.expression(payload), k,
        distinctPayloads = true).toAggregateExpression())

  /** The KMV distinct-count estimate of a min-k sketch over uniform
    * 32-bit hashes, as the columns (n_kept, `estName`): `kept` is the
    * sketch's distinct-hash count and `kth` its k-th smallest hash.
    * Below k hashes the count is exact; otherwise (k−1)·2³²/(kth+1).
    */
  def kmvEstimate(kept: Column, kth: Column, k: Int, estName: String): Seq[Column] = Seq(
    least(kept.cast("long"), lit(k.toLong)).as("n_kept"),
    when(kept < k, kept.cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) / (kth.cast("double") + lit(1.0)))
      .as(estName))
}
