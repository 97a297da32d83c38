package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd unigram-LM Viterbi segmentation (Kudo 2018, the SentencePiece
  * unigram model): split one word into the piece sequence maximizing the
  * sum of fitted piece log-probabilities. The fitted state — piece →
  * log-prob in integer MICROS (round-6 × 10⁶) — is metadata-scale by
  * construction (a capped candidate table), so it rides the expression the
  * way PercolateScores' idf tables do: embedded in the plan, probed from a
  * transient hash map, zero joins and zero shuffles per row.
  *
  * Exactness (the EM trajectory must replay in DuckDB): scores are INTEGER
  * micro sums, so the dynamic program is exact arithmetic in both engines;
  * the only float is the upstream round-6 ln() both engines compute from
  * identical double inputs (the idf/entropy discipline). Tie-break is
  * pinned: at each end position the LONGEST piece among score-maximizers
  * wins — the oracle's `list_max` over {score, len} structs picks the same
  * argmax lexicographically.
  *
  * Out-of-vocabulary single characters (possible when a fitted model is
  * applied to a corpus the trainer never saw) segment as themselves at the
  * fixed UNK penalty, keeping every word segmentable; multi-char pieces
  * never fall back.
  */
case class UnigramSeg(child: Expression,
                      pieces: Seq[(String, Long)], maxLen: Int, unkLp: Long)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"unigram_seg requires a string word, got ${other.catalogString}")
  }

  @transient private lazy val table: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.length * 2)
    pieces.foreach { case (p, lp) => m.put(p, lp) }
    m
  }

  def compute(word: UTF8String): ArrayData = {
    val w = word.toString
    // DP positions are CODE POINTS, not UTF-16 code units: candidate
    // generation (Unigram.candFreq) slices with Spark SQL substring/length
    // (code-point semantics) and the DuckDB oracle slices by characters, so
    // unit-indexed DP would split supplementary-plane characters (emoji,
    // rare CJK) differently from both — and could emit lone surrogates as
    // UNK pieces. off(i) maps code-point index i to its UTF-16 offset, so
    // piece lookups stay O(1) substring slices.
    val n = w.codePointCount(0, w.length)
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val off = new Array[Int](n + 1)
    var ci = 0
    var u = 0
    while (ci < n) { off(ci) = u; u = w.offsetByCodePoints(u, 1); ci += 1 }
    off(n) = w.length
    val dp = new Array[Long](n + 1)
    val back = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var best = Long.MinValue
      var bestL = 0
      val lm = math.min(maxLen, i)
      var l = 1
      while (l <= lm) {
        val lpBoxed = table.get(w.substring(off(i - l), off(i)))
        val lp: java.lang.Long =
          if (lpBoxed != null) lpBoxed
          else if (l == 1) java.lang.Long.valueOf(unkLp)
          else null
        if (lp != null) {
          val sc = dp(i - l) + lp.longValue()
          // >= : among equal scores the larger l (seen later) wins — the
          // oracle's lexicographic {score, len} struct max.
          if (sc >= best) { best = sc; bestL = l }
        }
        l += 1
      }
      dp(i) = best
      back(i) = bestL
      i += 1
    }
    var k = 0
    var pos = n
    while (pos > 0) { k += 1; pos -= back(pos) }
    val out = new Array[Any](k)
    pos = n
    var j = k - 1
    while (pos > 0) {
      val l = back(pos)
      out(j) = UTF8String.fromString(w.substring(off(pos - l), off(pos)))
      j -= 1
      pos -= l
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramSeg", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramSeg =
    copy(child = newChild)
}
