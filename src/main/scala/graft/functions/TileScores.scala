package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd TextTiling candidate scores: for every boundary position
  * p = k·b inside a token array, the Jaccard cohesion of the adjacent
  * b-token windows' DISTINCT vocabularies — one tight pass per row.
  *
  * Why a custom expression (the ClsProbFold discipline): the higher-order
  * formulation — transform over positions with two slice + array_distinct +
  * array_intersect + array_union trees per position — is interpreted
  * lambda evaluation end to end and measured ~11x at the sf1→sf10 step
  * (34-40 s for 500k docs); this loop builds two small hash sets per
  * position at scan speed.
  *
  * Exactness: cohesion = round6(|L∩R| / |L∪R|) with the same double
  * division the relational twin computes and Spark's
  * BigDecimal(Double.toString) HALF_UP rounding; window bounds replicate
  * `slice(w, p−b+1, b)` / `slice(w, p+1, b)` (1-based, length-clipped).
  */
case class TileScores(child: Expression, b: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("cohesion", DoubleType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tile_scores requires array<string>, got ${other.catalogString}")
  }

  def compute(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val kmax = (n - 1) / b
    if (kmax < 1) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](kmax)
    var k = 1
    while (k <= kmax) {
      val p = k * b
      // containsNull=true inputs are accepted: null tokens contribute
      // nothing to either window's vocabulary.
      val left = new java.util.HashSet[String](b * 2)
      var i = p - b
      while (i < p) {
        if (!toks.isNullAt(i)) left.add(toks.getUTF8String(i).toString)
        i += 1
      }
      val right = new java.util.HashSet[String](b * 2)
      i = p
      val end = math.min(p + b, n)
      while (i < end) {
        if (!toks.isNullAt(i)) right.add(toks.getUTF8String(i).toString)
        i += 1
      }
      var inter = 0
      val it = left.iterator()
      while (it.hasNext) if (right.contains(it.next())) inter += 1
      val union = left.size + right.size - inter
      val coh = if (union == 0) 0.0
      else BigDecimal(java.lang.Double.toString(
        inter.toDouble / union.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      out(k - 1) = new GenericInternalRow(Array[Any](p.toLong, coh))
        : InternalRow
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tileScores", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): TileScores =
    copy(child = newChild)
}
