package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd sequential dot product of two double arrays.
  *
  * Semantics are EXACTLY the HOF form
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,x) -> acc + x)`:
  * a strict left fold in element order, so the IEEE rounding of every
  * intermediate sum is identical — the property the DuckDB oracle depends
  * on (`list_reduce(list_prepend(0.0, ...))`). zip_with pads the shorter
  * array with NULL, which poisons the product and then the sum; mirrored
  * here by returning NULL on length mismatch or any NULL element.
  *
  * Why custom: the HOF chain is CodegenFallback — ~64 interpreted lambda
  * evaluations per pair. ANN queries score |queries|×|corpus| pairs, so the
  * interpreted overhead dominates their runtime (measured ~3s of ann_ivf's
  * bench time at sf0.1); this is a tight primitive loop instead.
  */
case class DotProd(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_prod"

  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_prod requires two array<double>, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  /** Boxed result so codegen's null handling stays simple: null = the HOF
    * chain's NULL-poisoning outcome.
    */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null // zip_with pads with NULL → NULL sum
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dotProd", this)
    val boxed = ctx.freshName("boxed")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |java.lang.Double $boxed = $ref.compute($a, $b);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotProd =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd squared Euclidean distance over a 1-based slice of two double
  * arrays, rounded to 6 decimals.
  *
  * Semantics are EXACTLY the HOF form
  * `round(aggregate(zip_with(slice(a, start, len), slice(b, start, len),
  * (x,y) -> (x-y)*(x-y)), 0.0, (acc,x) -> acc + x), 6)`: the same
  * sequential fold (identical IEEE intermediate rounding — the DuckDB
  * `list_reduce` contract) and Spark's HALF_UP decimal rounding. slice
  * beyond the array end shortens the slice; mismatched effective lengths
  * or a NULL element NULL-poison exactly like zip_with's padding.
  *
  * Why custom: the slice+zip_with+aggregate chain is CodegenFallback —
  * per-pair interpreted lambdas in the hottest PQ/k-means loops (encode
  * crosses every vector with every codeword; assignment with every
  * centroid). This is a tight primitive loop instead.
  */
case class SliceL2(a: Expression, b: Expression,
                   start: Expression, len: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(a, b, start, len)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "slice_l2"

  private def okArr(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okArr(a.dataType) && okArr(b.dataType) &&
      start.dataType == IntegerType && len.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"slice_l2 requires (array<double>, array<double>, int, int), got " +
        children.map(_.dataType.catalogString).mkString(", "))

  /** Boxed result; null mirrors the HOF chain's NULL-poisoning. */
  def compute(av: ArrayData, bv: ArrayData, st: Int, ln: Int): java.lang.Double = {
    // 1-based slice with Spark's slice() clamping: an out-of-range start
    // yields an empty slice, the tail shortens
    def bounds(n: Int): (Int, Int) = {
      val from = st - 1
      if (from < 0 || from >= n) (0, 0)
      else (from, math.min(ln, n - from))
    }
    val (af, an) = bounds(av.numElements())
    val (bf, bn) = bounds(bv.numElements())
    if (an != bn) return null // zip_with pads the shorter with NULL
    var acc = 0.0
    var i = 0
    while (i < an) {
      if (av.isNullAt(af + i) || bv.isNullAt(bf + i)) return null
      val d = av.getDouble(af + i) - bv.getDouble(bf + i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(java.math.BigDecimal.valueOf(acc)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val av = a.eval(input); val bv = b.eval(input)
    val st = start.eval(input); val ln = len.eval(input)
    if (av == null || bv == null || st == null || ln == null) null
    else compute(av.asInstanceOf[ArrayData], bv.asInstanceOf[ArrayData],
      st.asInstanceOf[Int], ln.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("sliceL2", this)
    val boxed = ctx.freshName("boxed")
    val ag = a.genCode(ctx); val bg = b.genCode(ctx)
    val sg = start.genCode(ctx); val lg = len.genCode(ctx)
    ev.copy(code =
      code"""
         |${ag.code}
         |${bg.code}
         |${sg.code}
         |${lg.code}
         |boolean ${ev.isNull} = true;
         |double ${ev.value} = 0.0;
         |if (!${ag.isNull} && !${bg.isNull} && !${sg.isNull} && !${lg.isNull}) {
         |  java.lang.Double $boxed =
         |    $ref.compute(${ag.value}, ${bg.value}, ${sg.value}, ${lg.value});
         |  if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.doubleValue(); }
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SliceL2 =
    copy(a = newChildren(0), b = newChildren(1),
      start = newChildren(2), len = newChildren(3))
}
