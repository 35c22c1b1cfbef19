package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization encoder: a dim-length float/double vector →
  * m 1-based sub-centroid codes (nearest by squared L2 per subspace).
  *
  * The composable twin (`transform`/`slice`/`array_position` over a
  * nested codebook literal — test-scope `ReferenceForms.pqEncodeColumnar`) generates
  * enormous Janino code (m·ksub·dsub inlined literals) whose COMPILE
  * time dominates small jobs and whose per-row allocation pattern
  * (sliced sub-arrays, distance arrays) taxes large ones. This
  * expression keeps the codebooks as a plan reference object and
  * encodes in one tight kernel loop — first-min tie-break, identical
  * codes to the columnar twin (spec-asserted in SimilaritySpec).
  */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_encode"

  private def elemType: Option[DataType] = child.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType.isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<float|double>, got ${child.dataType.catalogString}")
    else if (codebooks.isEmpty || codebooks.exists(_.isEmpty))
      TypeCheckResult.TypeCheckFailure(s"$prettyName codebooks must be non-empty")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val isFloat = elemType.contains(FloatType)

  protected override def nullSafeEval(input: Any): Any =
    PqEncode.encode(input.asInstanceOf[ArrayData], isFloat, codebooks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", codebooks, "double[][][]")
    defineCodeGen(ctx, ev,
      c => s"graft.plans.PqEncode.encode($c, $isFloat, $cbRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {

  /** Kernel; also called from generated code. First-min tie-break
    * (matches `array_position(dists, array_min(dists))`). */
  def encode(v: ArrayData, isFloat: Boolean,
             cb: Array[Array[Array[Double]]]): ArrayData = {
    val m = cb.length
    val dsub = cb(0)(0).length
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val sub = cb(j)
      val base = j * dsub
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < sub.length) {
        val cent = sub(c)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val x = if (isFloat) v.getFloat(base + i).toDouble else v.getDouble(base + i)
          val diff = x - cent(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(j) = best + 1
      j += 1
    }
    new GenericArrayData(codes)
  }
}
