package graft.catalyst

import graft.sketch.MinHasher
import graft.text.Text
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the signature hot loop: UTF-8 text ->
  * char-k-gram shingles -> numPerms MinHash minima, in one pass with no
  * UDF serialization boundary. doGenCode emits a single static call, so
  * the expression stays inside whole-stage codegen (SURVEY §7.5: promote
  * the shingle-hash loop to a codegen Expression when hot).
  *
  * Works directly on the UTF8String's bytes — the reference's exact-bytes
  * record model (/root/reference/src/wrapper/cpc.rs:42-44): no String
  * materialization, no re-encoding.
  */
case class MinHashTextExpr(child: Expression, shingleK: Int, numPerms: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(input: Any): Any =
    MinHashTextExpr.compute(input.asInstanceOf[UTF8String], shingleK, numPerms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.catalyst.MinHashTextExpr.compute($c, $shingleK, $numPerms)")

  override protected def withNewChildInternal(newChild: Expression): MinHashTextExpr =
    copy(child = newChild)
}

object MinHashTextExpr {
  /** Static entry point shared by interpreted eval and generated code. */
  def compute(text: UTF8String, shingleK: Int, numPerms: Int): ArrayData = {
    val shingles = Text.shingleHashesBytes(text.getBytes, shingleK)
    new GenericArrayData(MinHasher.shared(numPerms).signature(shingles))
  }
}
