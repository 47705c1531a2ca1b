package graft.catalyst

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** |A ∩ B| for two SORTED, distinct array<long> columns, as a single
  * merge walk inside whole-stage codegen.
  *
  * This is the verify stage's hot loop: exact shingle/frame-set Jaccard
  * and containment both reduce to one intersection size per candidate
  * pair (/root/reference behavioral contract: exact-bytes set semantics,
  * src/wrapper/cpc.rs:42-44 — estimates come from sketches, but verify
  * decisions are exact). The built-in array_intersect allocates and fills
  * an OpenHashSet PER ROW to return the intersection *elements*; measured
  * under jstack it was the top frame of the entire 600k-clip scaling leg.
  * The merge walk needs the count only: zero allocation, sequential
  * access, ~|A|+|B| branch-predictable compares.
  *
  * CONTRACT: both inputs must be sorted ascending with no duplicates and
  * no nulls — exactly what Text.shingleHashesBytes / Pcm.fingerprintHashes
  * emit (they sort their de-duplicated hash sets before returning; the
  * checkpoint layout version pins this, TableIO.LayoutVersion v5).
  */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_sorted_intersect_count"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<long> inputs, " +
            s"got ${left.dataType.sql} / ${right.dataType.sql}")
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCountExpr.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.catalyst.SortedIntersectCountExpr.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountExpr =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCountExpr {
  /** Static entry point shared by interpreted eval and generated code. */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }
}
