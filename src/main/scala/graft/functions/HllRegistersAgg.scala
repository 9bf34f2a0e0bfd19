package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

import java.security.MessageDigest

/** HyperLogLog register sketch as a real Catalyst aggregate —
  * `graft_hll(id)` — the dense-register rung of the mergeable-sketch
  * ladder next to [[KmvDistinctAgg]]: a FIXED 256-byte buffer per group
  * (one rho byte per register) that partial-aggregates map-side and
  * merges as a bytewise max, so GROUP BY cohort cardinalities cost one
  * exchange of 256 bytes per group regardless of input size — the shape
  * that makes per-segment distinct counting free at 100 TB.
  *
  * Deterministic and cross-engine exact: register = first md5 byte of
  * the id's decimal string, rho = leading zeros of the next 48 bits + 1
  * — byte-identical to `md5(CAST(id AS VARCHAR))` arithmetic in the
  * DuckDB oracle and to the DataFrame formulation in
  * `MonitorQueries.hllSketch` (same hash, same register math). Output is
  * the EXACT integer pair (v_zero, s_scaled = Σ_j 2^(49−M_j), each term
  * ≤ 2^49, sum ≤ 2^57) — estimates stay a downstream single IEEE tree,
  * so the aggregate itself never touches a float.
  */
case class HllRegistersAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_hll expects an integral id column, got $other")
  }
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("v_zero", LongType, nullable = false),
    StructField("s_scaled", LongType, nullable = false)))
  override def prettyName: String = "graft_hll"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](256)

  // one digest instance per task (instances are per-task; digest() resets)
  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val id = KmvDistinctAgg.asLong(v)
      val d = md.digest(id.toString.getBytes("UTF-8"))
      val reg = d(0) & 0xff
      // next 48 bits, big-endian: bytes 1..6
      var w = 0L
      var i = 1
      while (i < 7) { w = (w << 8) | (d(i) & 0xffL); i += 1 }
      val rho =
        if (w == 0L) 49
        else 49 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > buf(reg)) buf(reg) = rho.toByte
    }
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < 256) {
      if (other(i) > buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Byte]): Any = {
    var vZero = 0L
    var s = 0L
    var i = 0
    while (i < 256) {
      val mj = buf(i).toInt
      if (mj == 0) vZero += 1
      s += 1L << (49 - mj)
      i += 1
    }
    new GenericInternalRow(Array[Any](vZero, s))
  }

  override def serialize(buf: Array[Byte]): Array[Byte] = buf

  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllRegistersAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllRegistersAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
