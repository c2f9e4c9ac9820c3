package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType, DoubleType}

/** Native random-hyperplane LSH signature: bit b of the result is
  * sign(v · plane_b). The plane matrix rides inside the expression node
  * (seeded, deterministic), so the whole signature is ONE codegen'd loop —
  * the composable formulation (bits × dim chained `element_at` adds) builds
  * hundreds of expression nodes and falls out of whole-stage codegen.
  */
case class HyperplaneSignature(child: Expression, planes: Seq[Seq[Double]])
    extends UnaryExpression {

  require(planes.nonEmpty && planes.length <= 64,
    s"signature needs 1..64 planes (LongType bits), got ${planes.length}")
  require(planes.forall(_.length == planes.head.length),
    "all hyperplanes must have the same dimension")

  override def dataType: DataType = LongType

  // nullable regardless of the child (dim mismatch / null element -> null);
  // see NearestLists.nullable for the codegen consequence of inheriting
  // child.nullable=false
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hyperplane_signature needs array<float|double>, got ${t.simpleString}")
    }

  // element-width polymorphism: vectors arrive as array<float> OR
  // array<double> depending on the data generator vintage
  private def childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @transient private lazy val flat: Array[Double] = planes.flatten.toArray
  private def bits: Int = planes.length
  private def dim: Int = if (planes.isEmpty) 0 else planes.head.length

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    // dimension mismatch / null elements -> null (a prefix-hash would put
    // the vector in an arbitrary bucket with no error)
    if (x.numElements() != dim) return null
    var i = 0
    while (i < dim) { if (x.isNullAt(i)) return null; i += 1 }
    var sig = 0L
    val cf = childIsFloat
    var b = 0
    while (b < bits) {
      var proj = 0.0
      var j = 0
      val off = b * dim
      while (j < dim) { proj += (if (cf) x.getFloat(j).toDouble else x.getDouble(j)) * flat(off + j); j += 1 }
      if (proj >= 0) sig |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // embed the plane matrix as a reference object in the generated class
    val flatRef = ctx.addReferenceObj("planes", flat, "double[]")
    val bitsV = bits
    val dimV = dim
    nullSafeCodeGen(ctx, ev, x => {
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val proj = ctx.freshName("proj")
      val sig = ctx.freshName("sig")
      val off = ctx.freshName("off")
      s"""
         |if ($x.numElements() != $dimV) { ${ev.isNull} = true; }
         |for (int $i = 0; !${ev.isNull} && $i < $dimV; $i++) {
         |  if ($x.isNullAt($i)) ${ev.isNull} = true;
         |}
         |if (!${ev.isNull}) {
         |  long $sig = 0L;
         |  for (int $b = 0; $b < $bitsV; $b++) {
         |    double $proj = 0.0;
         |    int $off = $b * $dimV;
         |    for (int $i = 0; $i < $dimV; $i++) {
         |      $proj += ((double) $x.${if (childIsFloat) "getFloat" else "getDouble"}($i)) * $flatRef[$off + $i];
         |    }
         |    if ($proj >= 0) $sig |= (1L << $b);
         |  }
         |  ${ev.value} = $sig;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "hyperplane_signature"
}
