package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnExpr
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Native Catalyst expression: sign-LSH bucket signature of an
  * `array<float>` vector — bit p is the sign of the projection onto
  * pseudo-random hyperplane p.
  *
  * Why a custom Expression (SURVEY.md §7.3 preference order b): the HOF
  * composition evaluates `numPlanes` interpreted `aggregate(zip_with(...))`
  * dot products per row — numPlanes lambda frames per element of every
  * vector at bucketing time. This fuses all plane projections into one
  * primitive loop nest inside WholeStageCodegen, reading each vector
  * element once per plane with no allocation.
  *
  * Numeric contract: identical accumulation order (sequential index-order
  * double adds) and the same `dot > 0` bit rule as the HOF form in
  * [[graft.operators.Ann.signLshSignature]], so both produce identical
  * signatures; the hyperplane weights come from the shared
  * [[SignLshSignature.hyperplanes]].
  */
case class SignLshSignature(child: Expression, numPlanes: Int, dim: Int,
                            seed: Long) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_sign_lsh expects array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sign_lsh"

  // Seq params keep case-class equality structural; the primitive matrix
  // is what eval/codegen actually reads.
  @transient private lazy val planeMatrix: Array[Array[Double]] =
    SignLshSignature.hyperplanes(numPlanes, dim, seed).map(_.toArray).toArray

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    var sig = 0
    var p = 0
    while (p < planeMatrix.length) {
      val w = planeMatrix(p)
      val n = math.min(w.length, x.numElements())
      var d = 0.0
      var i = 0
      while (i < n) { d += x.getFloat(i).toDouble * w(i); i += 1 }
      if (d > 0.0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val mat = ctx.addReferenceObj("planes", planeMatrix, "double[][]")
      val sig = ctx.freshName("sig")
      val p = ctx.freshName("p")
      val w = ctx.freshName("w")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      s"""
         |int $sig = 0;
         |for (int $p = 0; $p < $mat.length; $p++) {
         |  double[] $w = $mat[$p];
         |  int $n = java.lang.Math.min($w.length, $a.numElements());
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $d += ((double) $a.getFloat($i)) * $w[$i];
         |  }
         |  if ($d > 0.0) $sig |= (1 << $p);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SignLshSignature =
    copy(child = newChild)
}

object SignLshSignature {
  /** Deterministic pseudo-random hyperplanes: plane p's weight for dim i
    * is a hash of (p, i, seed) mapped to [-1, 1]. Driver-side constants —
    * tiny, shipped with the serialized plan. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] =
    (0 until numPlanes).map { p =>
      (0 until dim).map { i =>
        val h = scala.util.hashing.MurmurHash3.caseClassHash((p, i, seed))
        h.toDouble / Int.MaxValue
      }
    }

  /** Column-API access to the native expression (SQL callers reach it
    * as `graft_sign_lsh` through [[GraftExtensions]]). */
  def signature(vec: Column, numPlanes: Int, dim: Int, seed: Long): Column =
    ColumnExpr.column(SignLshSignature(ColumnExpr.expression(vec), numPlanes, dim, seed))
}
