package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native merge-scan intersection COUNT over two SORTED long arrays — the
  * allocation-free replacement for `size(array_intersect(a, b))` on the
  * candidate-verify hot paths (opt r13, guide §4 "per-task work").
  *
  * `array_intersect` builds a hash set over one side and materializes the
  * intersection as a fresh array PER ROW, only for `size` to throw the
  * elements away; on pair tables (dedup verify joins, triangle counting)
  * that per-row allocation + hashing dominates task CPU. When both inputs
  * are sorted the count is a branch-predictable two-pointer merge with
  * zero allocation — O(|a|+|b|) comparisons, no boxing, no hash mixing.
  *
  * Contract (what makes it value-identical to `size(array_intersect)`):
  * both arrays sorted ascending with DISTINCT elements and nulls LAST —
  * exactly what `array_sort` (nulls last) over a distinct array, or
  * `sort_array`-free `array_sort(collect_list(..))` over distinct inputs,
  * produces. A null element (at most one per distinct array, in the final
  * slot under array_sort order) counts iff both sides carry one, matching
  * array_intersect's null semantics; a null ARRAY propagates null. Under
  * the distinct contract the null can only sit in the last slot, so it is
  * stripped up front (and counted iff both sides carry one) and the merge
  * loop itself is null-check-free. On inputs VIOLATING the distinct
  * precondition the count diverges from array_intersect (the merge counts
  * min-multiplicity, e.g. [5,5]∩[5,5] → 2 vs array_intersect's 1) — both
  * call sites' distinctness is pinned alongside the randomized equivalence
  * in IntersectExpressionsSpec.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkArraysOf(this, LongType)

  override def nullable: Boolean = left.nullable || right.nullable

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var na = x.numElements()
    var nb = y.numElements()
    // distinct + nulls-last ⇒ at most one null per array, in the final
    // slot: strip it up front (counted iff BOTH sides carry one — the
    // array_intersect rule) so the merge loop is null-check-free. The old
    // in-loop break dropped a shared null unless both pointers reached
    // their nulls simultaneously (ADVICE r13).
    val xNull = na > 0 && x.isNullAt(na - 1)
    val yNull = nb > 0 && y.isNullAt(nb - 1)
    if (xNull) na -= 1
    if (yNull) nb -= 1
    var i = 0
    var j = 0
    var c = if (xNull && yNull) 1L else 0L
    while (i < na && j < nb) {
      val av = x.getLong(i)
      val bv = y.getLong(j)
      if (av < bv) i += 1
      else if (av > bv) j += 1
      else { c += 1L; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val av = ctx.freshName("av")
      val bv = ctx.freshName("bv")
      val xNull = ctx.freshName("xNull")
      val yNull = ctx.freshName("yNull")
      // same strip-the-trailing-null-then-merge shape as nullSafeEval —
      // the two paths are randomized-parity-pinned (IntersectExpressionsSpec)
      s"""
         |int $na = $x.numElements();
         |int $nb = $y.numElements();
         |boolean $xNull = $na > 0 && $x.isNullAt($na - 1);
         |boolean $yNull = $nb > 0 && $y.isNullAt($nb - 1);
         |if ($xNull) $na--;
         |if ($yNull) $nb--;
         |int $i = 0; int $j = 0;
         |long $c = ($xNull && $yNull) ? 1L : 0L;
         |while ($i < $na && $j < $nb) {
         |  long $av = $x.getLong($i);
         |  long $bv = $y.getLong($j);
         |  if ($av < $bv) $i++;
         |  else if ($av > $bv) $j++;
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object IntersectExpressions {
  /** Column wrapper for [[SortedIntersectCount]]. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedIntersectCount(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
