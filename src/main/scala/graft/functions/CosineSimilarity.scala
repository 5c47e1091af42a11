package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd cosine similarity over two `array<float>` columns —
  * the tier above a Scala UDF in the extension preference order
  * (native `Expression` > Scala UDF): a UDF deserializes both sides
  * into `Seq[Float]` per row and breaks the enclosing whole-stage-codegen
  * span at every call; this expression reads the unsafe `ArrayData`
  * buffers in place inside the generated loop, so the candidate-verify
  * projection it sits in fuses with its neighbors into one codegen stage
  * and allocates nothing per row.
  *
  * Arithmetic contract (oracle-hash-critical): ascending-index summation
  * of `x*y`, `x*x`, `y*y` over EQUAL-length arrays, then
  * `dot / (sqrt(na) * sqrt(nb))` — bit-identical to both the Column-
  * expression form `Knn.dot / (Knn.l2Norm · Knn.l2Norm)` and a
  * primitive-loop UDF (FunctionsSpec keeps both as its references), so
  * swapping call sites cannot move a single ULP — on null-element-free
  * equal-length inputs, the only inputs the contract covers. A LENGTH
  * MISMATCH yields NULL in all three forms (the `zip_with` form pads
  * with null naturally; the UDF and this expression check explicitly): a
  * truncated/corrupt vector has no defined similarity, and a silent
  * prefix-cosine would let it masquerade as a perfect match of any
  * vector sharing its prefix. A NULL ELEMENT yields NULL too (checked
  * in both eval paths): reading the undefined ArrayData slot as 0.0
  * would silently skew the similarity, and rejecting
  * `containsNull = true` at analysis time would reject every
  * parquet-loaded embedding column (parquet arrays carry
  * containsNull = true even when no element is ever null). When the
  * schema proves containsNull = false, the generated loop carries no
  * per-element null branch at all.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemNullable(dt: DataType): Boolean = dt match {
    case ArrayType(_, cn) => cn
    case _                => false
  }

  // Always nullable: a runtime length mismatch (not visible in the
  // schema) forces a null result even when inputs and elements are
  // non-null.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def isFloatArray(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects (array<float>, array<float>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var d = 0.0d; var na = 0.0d; var nb = 0.0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      d += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val d = ctx.freshName("dot")
      val na = ctx.freshName("normA")
      val nb = ctx.freshName("normB")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      // Only emitted when the schema admits null elements (`ev.isNull`
      // is always a real variable — `nullable` is unconditionally true
      // for the length check); with containsNull = false on both sides
      // the loop stays branch-free.
      val nullElemCheck =
        if (elemNullable(left.dataType) || elemNullable(right.dataType))
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) " +
            s"{ ${ev.isNull} = true; break; }"
        else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $d = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullElemCheck
         |    double $x = (double) $a.getFloat($i);
         |    double $y = (double) $b.getFloat($i);
         |    $d += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $d / (Math.sqrt($na) * Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
