package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expression for the hot vector kernel (SURVEY.md §7.3:
  * prefer a codegen'd `Expression` over interpreted higher-order functions
  * once a scalar kernel dominates).
  *
  * Sequential left-to-right double accumulation — exactly the fold order of
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)`, so results are bitwise
  * identical to the declarative form (and to the DuckDB oracle's
  * list_reduce); this is a drop-in speedup, not a semantics change. The
  * interpreted HOF path costs a virtual call per element; this compiles to
  * a tight loop inside whole-stage codegen.
  *
  * Contract: double arrays of equal length (embedding columns); a null
  * *array* propagates null, and so does a null *element* — matching the
  * built-in null-propagation semantics (`graft_dot` is exposed to
  * arbitrary SQL via GraftExtensions, where a no-null-elements contract
  * could not be enforced; silently reading a null slot as 0.0 would
  * corrupt scores).
  */
case class DotProductDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  /** Reject non-double arrays at analysis time — `ArrayData.getDouble` on
    * a float/int array would silently return garbage at runtime. */
  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkArraysOf(this, DoubleType)

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      // the isNullAt branch is perfectly predicted on the (ubiquitous)
      // all-non-null case, so the loop still vectorizes as a tight kernel
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductDouble =
    copy(left = newLeft, right = newRight)
}

/** Deterministic Rademacher (±1) hyperplane table for sign-LSH: coefficient
  * (band, bit, dim) is +1 iff the first hex nibble of
  * md5("{seed}:{band}:{bit}:{dim}") is < 8 (an unbiased coin per
  * coefficient). md5 is the cross-engine hash of the project — the DuckDB
  * oracle derives the IDENTICAL planes from the same formula, so sign
  * patterns are bitwise comparable across engines. Rademacher entries are
  * distributionally equivalent to Gaussian hyperplanes for sign-LSH
  * (Achlioptas-style sparse projections) while staying exactly
  * representable in IEEE arithmetic: r·v is a fixed-order sum of ±v[d],
  * reproducible to the last bit. */
object RademacherPlanes {
  def planes(seed: Long, bands: Int, width: Int, dims: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(bands * width) { bi =>
      val b = bi / width
      val i = bi % width
      Array.tabulate(dims) { d =>
        val h = md.digest(s"$seed:$b:$i:$d".getBytes("UTF-8"))
        if ((h(0) & 0x80) == 0) 1.0 else -1.0
      }
    }
  }
}

/** Sign-LSH band patterns over a double-array embedding: element b of the
  * result is the width-bit integer whose bit i is set iff
  * dot(v, plane(b,i)) > 0, planes from [[RademacherPlanes]]. One codegen'd
  * kernel per row — bands·width·dims fused multiply-adds with no
  * intermediate arrays, the hot step of LSH bucketing at corpus scale.
  * Null array → null; null element → null (matching [[DotProductDouble]]).
  */
case class SignBandPatterns(child: Expression, seed: Long, bands: Int,
                            width: Int, dims: Int) extends UnaryExpression {
  require(bands > 0 && width > 0 && width <= 63 && dims > 0,
    s"invalid sign-LSH geometry: bands=$bands width=$width dims=$dims")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sign_bands"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  @transient private lazy val planes: Array[Array[Double]] =
    RademacherPlanes.planes(seed, bands, width, dims)

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dims)
    var d = 0
    while (d < n) { if (v.isNullAt(d)) return null; d += 1 }
    val pats = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var pat = 0L
      var i = 0
      while (i < width) {
        val r = planes(b * width + i)
        var acc = 0.0
        var k = 0
        while (k < n) { acc += r(k) * v.getDouble(k); k += 1 }
        if (acc > 0) pat |= 1L << i
        i += 1
      }
      pats(b) = pat
      b += 1
    }
    new GenericArrayData(pats)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val pats = ctx.freshName("pats")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val r = ctx.freshName("r")
      val acc = ctx.freshName("acc")
      val k = ctx.freshName("k")
      s"""
         |int $n = java.lang.Math.min($v.numElements(), $dims);
         |for (int $d = 0; $d < $n; $d++) {
         |  if ($v.isNullAt($d)) { ${ev.isNull} = true; break; }
         |}
         |if (!${ev.isNull}) {
         |  long[] $pats = new long[$bands];
         |  for (int $b = 0; $b < $bands; $b++) {
         |    long ${b}_pat = 0L;
         |    for (int $i = 0; $i < $width; $i++) {
         |      double[] $r = $planesRef[$b * $width + $i];
         |      double $acc = 0.0;
         |      for (int $k = 0; $k < $n; $k++) {
         |        $acc += $r[$k] * $v.getDouble($k);
         |      }
         |      if ($acc > 0) ${b}_pat |= 1L << $i;
         |    }
         |    $pats[$b] = ${b}_pat;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($pats);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SignBandPatterns =
    copy(child = newChild)
}

object VectorExpressions {
  /** Column wrapper for [[DotProductDouble]]. */
  def dotNative(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProductDouble(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Column wrapper for [[SignBandPatterns]]. */
  def signBandPatterns(vec: Column, seed: Long, bands: Int, width: Int,
                       dims: Int): Column =
    GraftColumnBridge.column(SignBandPatterns(
      GraftColumnBridge.expression(vec), seed, bands, width, dims))

  /** Analysis-time check of a binary array kernel: both arguments must be
    * `array<elem>`; the failure names the two argument types. */
  private[functions] def checkArraysOf(e: BinaryExpression,
                                       elem: DataType): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(t, _) => t == elem
      case _ => false
    }
    if (ok(e.left.dataType) && ok(e.right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${e.prettyName} requires two array<${elem.simpleString}> arguments, got " +
        s"${e.left.dataType.simpleString} and ${e.right.dataType.simpleString}")
  }
}
