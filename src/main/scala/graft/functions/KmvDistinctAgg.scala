package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

import java.nio.ByteBuffer
import java.security.MessageDigest

/** KMV distinct-count estimate as a real Catalyst aggregate function —
  * `graft_kmv_distinct(id, k)` — the mergeable-sketch rung of the
  * extension ladder that [[graft.operators.KmvSketch]]'s DataFrame
  * formulation can't show: a `TypedImperativeAggregate` carries the
  * bounded bottom-k state through Spark's partial-aggregation machinery
  * (update per partition → serialize → merge across partitions), so the
  * sketch combines map-side like any built-in aggregate and GROUP BY
  * cohort sketching costs one exchange of k longs per group.
  *
  * Same 52-bit md5 hash as the DataFrame path — the two formulations are
  * value-identical (spec-pinned), and the estimate is exact below k.
  * State is O(k) regardless of input size; ties dedup via the TreeSet.
  */
case class KmvDistinctAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k > 0 && k <= 2048, s"k must be in [1, 2048], got $k") // (k-1)·2^52 must fit a long

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_kmv_distinct expects an integral id column, got $other")
  }
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_kmv_distinct"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  // one digest instance per task (TypedImperativeAggregate instances are
  // per-task; digest() resets the state), not one per input row
  @transient private lazy val md = MessageDigest.getInstance("MD5")

  private def insert(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit = {
    buf.add(h)
    if (buf.size > k) buf.pollLast()
  }

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(buf, KmvDistinctAgg.hash52(md, KmvDistinctAgg.asLong(v)))
    buf
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
                     other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) insert(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any =
    if (buf.size < k) buf.size.toLong
    else {
      // hk = 0 only if all k smallest hashes are 0 (astronomically
      // improbable, but a 0 divisor must not crash the aggregate)
      val hk = buf.last().longValue()
      if (hk <= 0) buf.size.toLong
      else (k - 1).toLong * graft.operators.KmvSketch.HashSpace / hk
    }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val s = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { s.add(bb.getLong); i += 1 }
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvDistinctAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvDistinctAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object KmvDistinctAgg {

  /** First 13 hex nibbles of md5(decimal string of `v`) as a long —
    * derived straight from the first 7 digest bytes (56 bits big-endian
    * >> 4), value-identical to the DataFrame path's
    * `substring(md5(...), 1, 13)` parse without the per-row hex round-trip.
    * `md` is the caller's own MD5 instance: MessageDigest is not
    * thread-safe, so each aggregate instance keeps one. */
  def hash52(md: MessageDigest, v: Long): Long = {
    val d = md.digest(v.toString.getBytes("UTF-8"))
    var acc = 0L
    var i = 0
    while (i < 7) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    acc >>> 4
  }

  /** An integral input value (the sketch aggregates accept int or bigint)
    * as a long. */
  private[functions] def asLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
  }
}
