package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity over two `array<float>`
  * columns, with whole-stage codegen.
  *
  * Why a custom Expression (SURVEY.md §7.3 preference order b): the
  * composed form — `aggregate(zip_with(...))` over cast arrays — runs on
  * interpreted higher-order functions, allocating a lambda frame per
  * element; this is the innermost loop of ANN scoring, executed
  * |corpus|×|queries| times. The generated code below is a single fused
  * primitive loop (one pass computes dot product and both norms), no
  * allocation, inside WholeStageCodegen.
  *
  * Numeric contract: identical operation order to
  * [[graft.functions.VectorFunctions.cosine]] (sequential index-order
  * accumulation, double precision, zero-norm → 0.0), so results are
  * bit-identical to the HOF form and to the DuckDB oracle.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects two array<float> args, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom > 0.0) dot / denom else 0.0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = $denom > 0.0 ? $dot / $denom : 0.0;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Native squared euclidean distance over two numeric array columns
  * (`array<double>` or `array<float>`, independently per side) — the
  * PQ encode/ADC and IVF cell-assignment inner loop, executed
  * |corpus| × |codebook or centroids| times.
  * Numeric contract for EQUAL-length arrays (the only shape the callers
  * produce): floats widen exactly to double, accumulation is index-order
  * (x-y)^2 in double — bit-identical to
  * [[graft.functions.VectorFunctions.sqL2]] and the DuckDB list_sum
  * oracle. Length mismatch is where the two deliberately differ: this
  * expression truncates to the common prefix (like the native cosine),
  * while the HOF's zip_with null-pads and poisons the sum to NULL. */
case class SqL2Distance(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private def ok(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sql2 expects array<double>/array<float> args, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sql2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = isFloat(left); val rf = isFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xv - yv
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val getX =
        if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getY =
        if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $getX - $getY;
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqL2Distance =
    copy(left = newLeft, right = newRight)
}

/** Top-`n` nearest centroid cells for ONE vector as a single expression
  * pass — the flat IVF/SemDeDup assignment WITHOUT the corpus×centroid
  * explosion: the centroid matrix rides the expression as a task-binary
  * reference (the [[BpeEncode]]-merge-table pattern; k·dim doubles —
  * ~20 MB at 40k×64, the same order a broadcast join would ship), each
  * row computes its k distances inside codegen and keeps the n best, so
  * the plan has NO crossJoin, NO aggregation, and per-row O(n) state.
  * The exploded alternative (crossJoin → per-vid top-n aggregate) is an
  * O(n·k)-row stream whose complex-typed aggregate falls to sort-based
  * execution — at a 10M-vector corpus with adaptive cell counts that
  * sort spilled >50 GB and died.
  *
  * Numeric + ordering contract: identical to argmin over
  * [[SqL2Distance]] — floats widen exactly to double, accumulation is
  * index-order (x−y)² in double, candidates compared by (dist ASC,
  * cell_id ASC): `cents`/`ids` are pre-sorted by cell id and selection
  * keeps the earlier candidate on distance ties. Returns the cell ids
  * in rank order (fewer than n when k < n). */
case class NearestCells(child: Expression, ids: Array[Any],
                        cents: Array[Array[Double]], n: Int,
                        idType: DataType) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_cells expects array<float>/array<double>, got " +
        s"${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(idType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells"

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def compute(v: Any): ArrayData = {
    val x = v.asInstanceOf[ArrayData]
    val vf = isFloat
    val k = cents.length
    val take = math.min(n, k)
    if (take <= 0) return new GenericArrayData(Array.empty[Any])
    val bestD = Array.fill(take)(Double.PositiveInfinity)
    val bestC = Array.fill(take)(-1)
    var c = 0
    while (c < k) {
      val cent = cents(c)
      val m = math.min(x.numElements(), cent.length)
      var acc = 0.0
      var i = 0
      while (i < m) {
        val xv = if (vf) x.getFloat(i).toDouble else x.getDouble(i)
        val d = xv - cent(i)
        acc += d * d
        i += 1
      }
      // strict < keeps the earlier (smaller-id) candidate on ties
      var j = take - 1
      if (acc < bestD(j)) {
        while (j > 0 && acc < bestD(j - 1)) {
          bestD(j) = bestD(j - 1); bestC(j) = bestC(j - 1); j -= 1
        }
        bestD(j) = acc; bestC(j) = c
      }
      c += 1
    }
    val out = bestC.takeWhile(_ >= 0).map(ids(_))
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCells", this,
      classOf[NearestCells].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

/** Top-`n` nearest candidates from a per-ROW candidate array — the
  * two-level assignment's hot loop ([[graft.operators.Ann
  * .assignCellsTwoLevelTopN]]): unlike [[NearestCells]], the candidate
  * set here is a COLUMN (each coarse cell's fine centroids, grouped at
  * runtime), so it cannot ride the expression as a compile-time
  * reference. The HOF composition (`transform` → `array_sort` →
  * `slice`) runs on interpreted higher-order functions — a lambda
  * frame and boxed struct per candidate per row, measured ~6× slower
  * than the flat pass at 2M vectors despite doing ~5× less arithmetic
  * — so this expression fuses score+select into one compiled pass.
  *
  * `cands` is `array<struct<centroid: array<float|double>, id: T>>`
  * (field ORDER is the contract; names are free). Returns
  * `array<struct<d: double, cell_id: T>>` of the `n` best by
  * (distance ASC, id ASC) — the same squared-L2 accumulation
  * ([[SqL2Distance]] index-order doubles, min-length truncation) and
  * the same tiebreak as [[NearestCells]], so merging per-coarse-cell
  * results reproduces the flat assignment bit-for-bit when every cell
  * is probed. */
case class NearestInArray(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {

  private def candType: ArrayType = right.dataType.asInstanceOf[ArrayType]
  private def candStruct: org.apache.spark.sql.types.StructType =
    candType.elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
  private def centType: ArrayType =
    candStruct.fields(0).dataType.asInstanceOf[ArrayType]
  private def idType: DataType = candStruct.fields(1).dataType

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = left.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    val candsOk = right.dataType match {
      case ArrayType(s: org.apache.spark.sql.types.StructType, _)
          if s.fields.length == 2 =>
        s.fields(0).dataType match {
          case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
          case _ => false
        }
      case _ => false
    }
    if (vecOk && candsOk && n > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_in_array expects (array<float|double>, " +
        s"array<struct<array<float|double>, id>>) and n > 0, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}, n=$n")
  }

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("d", DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("cell_id", idType,
        nullable = candStruct.fields(1).nullable))), containsNull = false)
  override def prettyName: String = "graft_nearest_in_array"

  @transient private lazy val vecIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient private lazy val centIsFloat: Boolean =
    centType.elementType == FloatType
  @transient private lazy val idOrdering: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(idType).asInstanceOf[Ordering[Any]]

  def compute(v: Any, cs: Any): ArrayData = {
    val x = v.asInstanceOf[ArrayData]
    val cands = cs.asInstanceOf[ArrayData]
    val k = cands.numElements()
    val take = math.min(n, k)
    if (take <= 0) return new GenericArrayData(Array.empty[Any])
    val bestD = Array.fill(take)(Double.PositiveInfinity)
    val bestId = new Array[Any](take)
    var filled = 0
    var c = 0
    while (c < k) {
      val cand = cands.getStruct(c, 2)
      val cent = cand.getArray(0)
      val id = cand.get(1, idType)
      val m = math.min(x.numElements(), cent.numElements())
      var acc = 0.0
      var i = 0
      while (i < m) {
        val xv = if (vecIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
        val cv = if (centIsFloat) cent.getFloat(i).toDouble else cent.getDouble(i)
        val d = xv - cv
        acc += d * d
        i += 1
      }
      // insertion-select by (d ASC, id ASC, nulls last): candidates
      // arrive in arbitrary collect_list order, so distance ties break
      // on the id ORDERING (not arrival), matching NearestCells'
      // pre-sorted-ids strict-< rule; a null id (admitted by the
      // result type) loses every tie — interpreted orderings don't
      // null-handle (r17 review finding)
      var j = math.min(filled, take - 1)
      def idLt(a: Any, b: Any): Boolean =
        if (a == null) false
        else if (b == null) true
        else idOrdering.lt(a, b)
      def beats(p: Int): Boolean =
        acc < bestD(p) || (acc == bestD(p) && p < filled &&
          idLt(id, bestId(p)))
      if (filled < take || beats(take - 1)) {
        while (j > 0 && beats(j - 1)) {
          bestD(j) = bestD(j - 1); bestId(j) = bestId(j - 1); j -= 1
        }
        bestD(j) = acc; bestId(j) = id
        if (filled < take) filled += 1
      }
      c += 1
    }
    val rows: Array[Any] = (0 until filled).map { p =>
      org.apache.spark.sql.catalyst.InternalRow(bestD(p), bestId(p))
    }.toArray
    new GenericArrayData(rows)
  }

  override def nullSafeEval(v: Any, cs: Any): Any = compute(v, cs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestInArray", this,
      classOf[NearestInArray].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestInArray =
    copy(left = newLeft, right = newRight)
}

/** Deployment-grade wiring: inject graft's native expressions into every
  * session via `spark.sql.extensions=graft.plans.GraftExtensions` (the
  * spark-submit path); Column-API callers build the expressions directly
  * ([[NativeFunctions]], [[TextNative]], [[SignLshSignature.signature]]). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    // lakehouse maintenance grammar (GRAFT HISTORY/VACUUM/RESTORE/…):
    // a delegating parser — non-GRAFT statements reach Spark untouched
    e.injectParser((_, delegate) => new GraftSqlParser(delegate))
    // `graft.`/table/root`` as a first-class SQL relation (reads, time
    // travel, INSERT INTO/OVERWRITE) — see GraftRelationResolution
    e.injectResolutionRule(session => new GraftRelationResolution(session))
    // native ANSI UPDATE/DELETE/MERGE INTO on graft_lake catalog tables
    e.injectResolutionRule(session => new GraftRowLevelSql(session))
    // co-bucketed joins fire on the NATURAL shape (ON a.k = b.k): the
    // implied bucket-equality conjunct is injected at optimization so
    // the scans' KeyGroupedPartitioning satisfies the join distribution
    e.injectOptimizerRule(session => new GraftBucketJoinConjunct(session))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cosine"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[CosineSimilarity].getCanonicalName, "graft_cosine"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_sql2"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[SqL2Distance].getCanonicalName, "graft_sql2"),
      (exprs: Seq[Expression]) => SqL2Distance(exprs(0), exprs(1))))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_sign_lsh"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[SignLshSignature].getCanonicalName, "graft_sign_lsh"),
      (exprs: Seq[Expression]) => SignLshSignature(
        exprs(0),
        ExprArgs.toInt(exprs(1).eval()),
        ExprArgs.toInt(exprs(2).eval()),
        ExprArgs.toLong(exprs(3).eval()))))
  }
}

/** Column-API access for the native expressions (SQL callers reach
  * them through [[GraftExtensions]]). */
object NativeFunctions {
  import org.apache.spark.sql.graftshim.ColumnExpr.{column, expression}

  /** Cosine over float-array columns via the native expression. */
  def cosineFloat(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  /** Squared L2 over double-array columns via the native expression. */
  def sqL2Double(a: Column, b: Column): Column =
    column(SqL2Distance(expression(a), expression(b)))
}
