package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

import java.nio.ByteBuffer
import java.security.MessageDigest

/** Mergeable quantile sketch as a real Catalyst aggregate —
  * `graft_quantile_sketch(uid, value, k)` — the quantile rung of the
  * mergeable-sketch ladder next to [[HllRegistersAgg]] (cardinality) and
  * [[KmvDistinctAgg]] (distinct count): a bounded priority sample of at
  * most k (priority, uid, value) triples per group that partial-aggregates
  * map-side and merges as a bottom-k union, so GROUP BY cohort quantiles
  * cost one exchange of ≤ k·24 bytes per group regardless of input size —
  * one pass, no sort, the shape that replaces a full per-group sort at
  * 100 TB.
  *
  * Design note — why a priority sample and not KLL/GK: this engine's
  * correctness gate hash-compares the aggregate's OUTPUT against a DuckDB
  * replay, which requires the result to be a pure function of the input
  * SET. KLL and GK states depend on arrival order and on the shape of
  * Spark's (nondeterministic) partial-merge tree, so their outputs cannot
  * be cross-engine pinned. A bottom-k sample ordered by a content hash of
  * the uid (Duffield–Thorup priority sampling with a deterministic
  * priority; the KMV construction applied to quantiles) is order- and
  * merge-tree-insensitive by construction — it is a min-k over a fixed
  * total order — while keeping the same mergeable one-pass contract and
  * the standard O(1/√k) sample rank error (±6.25% rank at k = 256,
  * exact when the group has ≤ k rows).
  *
  * Determinism: priority = first 13 hex nibbles of md5 of the uid's
  * decimal string (the [[KmvDistinctAgg]] hash), total-ordered by
  * (priority, uid, value) so hash collisions cannot introduce
  * arrival-order sensitivity. Eval sorts the sample by value and reads
  * ranks ⌊(m−1)·p/100⌋ for p ∈ {10, 25, 50, 75, 90, 99} — all-integer
  * index arithmetic, no float surface anywhere in the aggregate. The
  * DuckDB oracle replays the identical bottom-k (ORDER BY md5-priority,
  * uid LIMIT k) and rank reads, so update/merge/eval are hash-compared
  * cross-engine, not just spec-tested.
  */
case class QuantileSketchAgg(uid: Expression, value: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[(Long, Long, Long)]] {

  require(k > 0 && k <= 65536, s"k must be in [1, 65536], got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    (uid.dataType, value.dataType) match {
      case (LongType | IntegerType, LongType | IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_quantile_sketch expects integral (uid, value) columns, got $other")
    }
  override def children: Seq[Expression] = Seq(uid, value)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n_sample", LongType, nullable = false),
    StructField("q10", LongType, nullable = false),
    StructField("q25", LongType, nullable = false),
    StructField("q50", LongType, nullable = false),
    StructField("q75", LongType, nullable = false),
    StructField("q90", LongType, nullable = false),
    StructField("q99", LongType, nullable = false)))
  override def prettyName: String = "graft_quantile_sketch"

  // tuple Ordering is lexicographic: (priority, uid, value)
  override def createAggregationBuffer(): java.util.TreeSet[(Long, Long, Long)] =
    new java.util.TreeSet[(Long, Long, Long)](
      implicitly[Ordering[(Long, Long, Long)]])

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  private def insert(buf: java.util.TreeSet[(Long, Long, Long)],
                     t: (Long, Long, Long)): Unit = {
    buf.add(t)
    if (buf.size > k) buf.pollLast()
  }

  override def update(buf: java.util.TreeSet[(Long, Long, Long)],
                      input: InternalRow): java.util.TreeSet[(Long, Long, Long)] = {
    val u = uid.eval(input)
    val v = value.eval(input)
    if (u != null && v != null) {
      val id = KmvDistinctAgg.asLong(u)
      // [[KmvDistinctAgg.hash52]], value-identical to DuckDB's
      // `CAST('0x' || substr(md5(CAST(uid AS VARCHAR)), 1, 13) AS BIGINT)`
      insert(buf, (KmvDistinctAgg.hash52(md, id), id, KmvDistinctAgg.asLong(v)))
    }
    buf
  }

  override def merge(buf: java.util.TreeSet[(Long, Long, Long)],
                     other: java.util.TreeSet[(Long, Long, Long)])
      : java.util.TreeSet[(Long, Long, Long)] = {
    val it = other.iterator()
    while (it.hasNext) insert(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[(Long, Long, Long)]): Any = {
    val m = buf.size
    if (m == 0) {
      // contract: callers aggregate non-null inputs; an all-null group
      // yields an empty sample, reported as zeros rather than a crash
      new GenericInternalRow(Array[Any](0L, 0L, 0L, 0L, 0L, 0L, 0L))
    } else {
      val vals = new Array[Long](m)
      val it = buf.iterator()
      var i = 0
      while (it.hasNext) { vals(i) = it.next()._3; i += 1 }
      java.util.Arrays.sort(vals)
      def at(p: Long): Long = vals((((m - 1).toLong * p) / 100L).toInt)
      new GenericInternalRow(Array[Any](m.toLong,
        at(10), at(25), at(50), at(75), at(90), at(99)))
    }
  }

  override def serialize(buf: java.util.TreeSet[(Long, Long, Long)]): Array[Byte] = {
    // canonical: triples in (priority, uid, value) order — the buffer is a
    // set, so the serialized form is bitwise-stable under any merge tree
    val bb = ByteBuffer.allocate(4 + 24 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val (p, u, v) = it.next()
      bb.putLong(p); bb.putLong(u); bb.putLong(v)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[(Long, Long, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val s = createAggregationBuffer()
    var i = 0
    while (i < n) { s.add((bb.getLong, bb.getLong, bb.getLong)); i += 1 }
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(uid = newChildren.head, value = newChildren(1))
}
