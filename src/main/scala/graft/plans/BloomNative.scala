package graft.plans

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftshim.ColumnExpr
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Native Bloom-filter membership probe for join pruning.
  *
  * `graft_bloom_contains(key, sketchBytes)`: true iff `key` MIGHT be in
  * the serialized [[BloomFilter]] (false positives at the sketch's fpp,
  * never false negatives). The sketch rides the plan as a binary literal
  * (shipped once per executor with the serialized plan, like a broadcast
  * var) and is deserialized once per executor thread, NOT per row; the
  * probe itself is two xxhash-style hashes + k bit tests inside
  * whole-stage codegen.
  *
  * Why (SURVEY.md §7.3 preference order b): a `.isin(keys)` prefilter
  * materializes the key list in the plan and stops scaling past ~10k
  * keys; a broadcast semi-join prunes AFTER the large side is scanned
  * and shuffled into the join. The bloom probe prunes AT THE SCAN, in
  * the same codegen stage as the parquet read — the standard big-data
  * trick for selective joins (Spark's own InjectRuntimeFilter does this
  * for shuffle joins when stats allow; this expression makes it an
  * explicit, composable operator).
  */
case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, BinaryType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_contains expects (bigint, foldable binary), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  // one deserialization per executor instance of the expression tree —
  // the sketch literal is foldable, so eval(null) is safe here
  @transient private lazy val bf: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(
      right.eval(null).asInstanceOf[Array[Byte]]))

  def compute(v: Long): Boolean = bf.mightContainLong(v)

  override def nullSafeEval(a: Any, b: Any): Any = compute(a.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomContains", this, classOf[BloomContains].getName)
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomContains =
    copy(left = newLeft, right = newRight)
}

object BloomNative {

  /** Membership probe column for a pre-built sketch. */
  def mightContain(key: Column, bf: BloomFilter): Column = {
    val bytes = {
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      out.toByteArray
    }
    ColumnExpr.column(BloomContains(ColumnExpr.expression(key),
      ColumnExpr.expression(lit(bytes))))
  }
}
