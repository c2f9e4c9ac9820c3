package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity between two float-array
  * columns, with whole-stage codegen.
  *
  * The composable alternative (`aggregate(zip_with(...))`) builds three
  * higher-order-function nodes whose lambda evaluation boxes every element;
  * for ANN scoring — the innermost loop of similarity search, executed
  * |queries|×|corpus| times — a fused primitive loop matters. `doGenCode`
  * emits a single tight float loop (dot and both norms in one pass), so the
  * operator stays inside WholeStageCodegen with zero boxing.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // nullable regardless of the children (length mismatch / null element ->
  // null); see NearestLists.nullable for the codegen consequence of
  // inheriting nullable=false from non-nullable inputs
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity needs two array<float|double> args, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  // element-width polymorphism: the testdata generator has shipped vectors
  // as BOTH array<float> and array<double> shapes across tools — the
  // expression must not be the thing that breaks on a regeneration
  private def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // dimension mismatch or null elements -> null result (silent
    // truncation / zero-filling would return confidently wrong scores)
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val lf = isFloat(left.dataType); val rf = isFloat(right.dataType)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $x.numElements();
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xi = (double) $x.${if (isFloat(left.dataType)) "getFloat" else "getDouble"}($i);
         |    double $yi = (double) $y.${if (isFloat(right.dataType)) "getFloat" else "getDouble"}($i);
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |    ${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)

  override def prettyName: String = "cosine_similarity"
}
