package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd trained-classifier probability: hashed bag-of-words logistic
  * score of a token array under a weight vector, in one tight loop.
  *
  * Why a custom expression (the DsirFold lesson, applied to the classifier):
  * the higher-order formulation — `transform` to buckets, `array_distinct`,
  * then a nested `filter` per distinct bucket for its count — is
  * CodegenFallback AND O(distinct_buckets × n_tokens) interpreted lambda
  * evaluations per document (~64 × n for the 64-bucket gate; measured ~18 s
  * of the 21.8 s config_corpus_classify sf0.1 pass). This expression does
  * the identical arithmetic — one histogram pass over the tokens, one pass
  * over the buckets — at scan speed.
  *
  * Exactness (must land bit-identically where the relational
  * Classifier.classify chain and the DuckDB replay land):
  *  - bucket = 60-bit portable sha256 hash mod buckets (the DsirFold
  *    digest-byte read, spec-proven equal to
  *    `conv(substr(sha2(x,256),1,15),16,10)`);
  *  - x_b = round6(count_b / n) via BigDecimal(Double.toString) HALF_UP —
  *    exactly Spark's `round(c/n, 6)`;
  *  - weights arrive as integer MICROS (6-decimal values × 10⁶, exact), so
  *    round12(w_b * x_b) is exactly `wMicros_b * xMicros_b` integer PICOS;
  *    the pico sum is a long (order-free; |terms| ≤ buckets+1, each below
  *    2^50 for any trained model);
  *  - round6 of the pico sum = sign-aware HALF_UP to micros (BigDecimal
  *    rounds away from zero at the half);
  *  - the hard-sigmoid link runs directly on the integer micros:
  *    clamp(500000 + floorDiv(sMicros, 4)) — identical to the relational
  *    `floor(round(s*1e6,0) / 4.0)` because sMicros < 2^52 round-trips the
  *    double exactly.
  *
  * The bucket histogram is a dense int array sized `buckets` per row —
  * right for the classifier-gate regime (64…65k buckets); a 2^20-bucket
  * deployment should switch to a sparse map before raising the constant.
  *
  * `left` = array<string> tokens; `right` = array<long> weight micros
  * (dense, length = buckets + 1, last element = bias).
  */
case class ClsProbFold(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cls_prob_fold requires (array<string>, array<long>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  def compute(toks: ArrayData, wMicros: ArrayData): Double = {
    val buckets = wMicros.numElements() - 1
    val n = toks.numElements()
    // bias row: x = 1.0, so round12(w * 1.0) = wMicros in picos
    var picos = wMicros.getLong(buckets) * 1000000L
    if (n > 0 && buckets > 0) {
      val cnt = new Array[Int](buckets)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      // containsNull=true inputs are accepted: null tokens are skipped and
      // excluded from the bucket-fraction denominator.
      var nn = 0
      var i = 0
      while (i < n) {
        if (!toks.isNullAt(i)) {
          nn += 1
          md.reset()
          val dig = md.digest(toks.getUTF8String(i).getBytes)
          var h = 0L
          var j = 0
          while (j < 7) { h = (h << 8) | (dig(j) & 0xFFL); j += 1 }
          h = (h << 4) | ((dig(7) & 0xFFL) >>> 4) // 60 bits, always positive
          cnt((h % buckets).toInt) += 1
        }
        i += 1
      }
      var b = 0
      while (b < buckets && nn > 0) {
        if (cnt(b) > 0) {
          val x = BigDecimal(java.lang.Double.toString(cnt(b).toDouble / nn))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          picos += wMicros.getLong(b) * math.round(x * 1e6)
        }
        b += 1
      }
    }
    val sMicros =
      if (picos >= 0) (picos + 500000L) / 1000000L
      else -((-picos + 500000L) / 1000000L)
    val pMicros = math.min(1000000L,
      math.max(0L, 500000L + Math.floorDiv(sMicros, 4)))
    pMicros.toDouble / 1e6
  }

  override protected def nullSafeEval(toks: Any, w: Any): Any =
    compute(toks.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("clsProbFold", this)
    nullSafeCodeGen(ctx, ev, (t, w) =>
      s"${ev.value} = $ref.compute($t, $w);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ClsProbFold =
    copy(left = newLeft, right = newRight)
}
