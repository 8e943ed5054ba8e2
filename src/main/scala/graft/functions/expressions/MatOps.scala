package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Dense matrix × vector kernel, used for the OPQ rotation
  * (`/root/reference/apps/nvdb_ivfpq_build.cpp:78-91` — FAISS `OPQMatrix`
  * prepended as an `IndexPreTransform`). The rotation matrix rides into
  * codegen as a reference object like the IVF centroids.
  */
object MatOps {

  /** y = M x, row-major M (rows × dim). Each row is one [[VectorKernels.dot]]
    * (SIMD-dispatched; it fails when `x` does not have the rows' dim).
    */
  def matVec(v: ArrayData, m: Array[Array[Float]]): ArrayData = {
    val x = v.toFloatArray()
    val out = new Array[Float](m.length)
    var r = 0
    while (r < m.length) {
      out(r) = VectorKernels.dot(m(r), x).toFloat
      r += 1
    }
    new GenericArrayData(out)
  }
}

/** `mat_vec(vec)` → rotated array<float>. */
case class MatVec(child: Expression, m: Array[Array[Float]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    MatOps.matVec(v.asInstanceOf[ArrayData], m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("m", m, "float[][]")
    defineCodeGen(ctx, ev, v => s"graft.functions.expressions.MatOps.matVec($v, $ref)")
  }
  override def prettyName: String = "mat_vec"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
