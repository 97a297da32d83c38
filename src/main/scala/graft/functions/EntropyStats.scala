package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd per-document word-entropy statistics: (n_words, n_distinct,
  * entropy) in ONE pass over the token array — the Bm25Scores/percolate
  * lesson applied to the entropy gate: a document's entropy is a pure
  * function of its own tokens, so the relational plan's two exchanges
  * (term-count aggregate + doc window) buy nothing a row-local fold
  * doesn't. Scan → fold → project, zero shuffles at every scale.
  *
  * Exactness (must land where the relational twin and the DuckDB oracle
  * land): each term is round6((tf/dl)·ln(tf/dl)) — tf and dl are exact
  * integers, so both engines divide the same doubles; the round-6 double is
  * an exact micro long, and the entropy is the NEGATED micro sum rebuilt as
  * DECIMAL(·,6) → double, bit-identical to -SUM(CAST(term AS
  * DECIMAL(30,6))) in either engine, order-free by integer addition.
  *
  * Empty-string tokens COUNT (split("\\s+") emits them; the relational twin
  * never filtered); null elements are skipped and excluded from dl (the
  * fitted-fold family's null discipline).
  */
case class EntropyStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))

  override def prettyName: String = "entropy_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"entropy_stats requires array<string>, got ${other.catalogString}")
  }

  private def round6Micros(x: Double): Long =
    BigDecimal(java.lang.Double.toString(x))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.movePointRight(6).longValueExact

  def compute(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    val tf = new java.util.HashMap[String, Array[Int]](64)
    var dl = 0L
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        dl += 1
        val t = toks.getUTF8String(i).toString
        val c = tf.get(t)
        if (c == null) tf.put(t, Array(1)) else c(0) += 1
      }
      i += 1
    }
    if (dl == 0L) return new GenericInternalRow(Array[Any](0L, 0L, 0.0))
    var micros = 0L
    val it = tf.values().iterator()
    while (it.hasNext) {
      val p = it.next()(0).toDouble / dl
      micros += round6Micros(p * math.log(p))
    }
    val entropy = java.math.BigDecimal.valueOf(-micros, 6).doubleValue()
    new GenericInternalRow(Array[Any](dl, tf.size.toLong, entropy))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("entropyStats", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): EntropyStats =
    copy(child = newChild)
}
