package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused random-hyperplane kernels for sign-LSH (Charikar buckets).
  *
  * The Column composition — one `DotF32` + `when` per (plane, table) —
  * works, but at 12 planes × 4 tables it is 48 separate kernel calls per
  * row, each converting the SAME vector to a float[] again, and the
  * generated code for the 48-branch expression tree is what made d4 the
  * one p99-outlier in the bench (first-execution codegen of a huge
  * method). One kernel call per table converts the vector once, streams
  * the plane matrix from a single reference object, and packs the sign
  * bits in the loop. Projections go through [[VectorKernels.dot]] itself
  * (SIMD-dispatched), so sign keys and multi-probe margins are computed
  * by the ONE dot kernel every other path uses — bucket membership can
  * never drift between the fused kernels and a `DotF32` composition.
  */
object PlaneKernels {

  /** Packed sign bits: bit p set iff dot(vec, planes(p)) >= 0. */
  def signKey(vec: ArrayData, planes: Array[Array[Float]]): Long = {
    val v = vec.toFloatArray()
    if (planes.nonEmpty) VectorKernels.requireDim("lsh", v.length, planes(0).length)
    var key = 0L
    var p = 0
    while (p < planes.length) {
      if (VectorKernels.dot(v, planes(p)) >= 0.0) key |= 1L << p
      p += 1
    }
    key
  }

  /** All plane projections (the multi-probe path needs the margins, not
    * just the signs).
    */
  def projections(vec: ArrayData, planes: Array[Array[Float]]): ArrayData = {
    val v = vec.toFloatArray()
    if (planes.nonEmpty) VectorKernels.requireDim("lsh", v.length, planes(0).length)
    val out = new Array[Any](planes.length)
    var p = 0
    while (p < planes.length) {
      out(p) = VectorKernels.dot(v, planes(p))
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** `sign_key(vec)` → long bucket key over one table's plane matrix. */
case class SignKey(child: Expression, planes: Array[Array[Float]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    PlaneKernels.signKey(v.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "float[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.expressions.PlaneKernels.signKey($v, $ref)")
  }
  override def prettyName: String = "sign_key"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `plane_projections(vec)` → array<double> of per-plane dots. */
case class PlaneProjections(child: Expression, planes: Array[Array[Float]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    PlaneKernels.projections(v.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "float[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.expressions.PlaneKernels.projections($v, $ref)")
  }
  override def prettyName: String = "plane_projections"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
