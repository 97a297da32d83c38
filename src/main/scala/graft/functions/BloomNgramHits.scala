package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd Bloom-filter n-gram probe: how many DISTINCT word n-grams of a
  * token array test positive against a bitmap literal, in one pass.
  *
  * Why a custom expression (the DsirFold/ClsProbFold discipline): the
  * higher-order formulation — `shingles` (a transform-over-sequence lambda),
  * `array_distinct`, then `filter` with numHashes sha256 probes per n-gram —
  * is CodegenFallback end to end; every n-gram walks an interpreted
  * expression tree around its two digests (measured ~10 s of the 11 s
  * decontam_bloom sf0.1 pass). This expression builds the n-gram strings,
  * dedups them in a hash set, and probes the bitmap in a tight loop at scan
  * speed.
  *
  * Exactness (the flag count must land where the relational chain and the
  * DuckDB replay land):
  *  - n-gram string = the n tokens joined by single spaces, windows
  *    starting at every position (size − n + 1 of them; fewer than n
  *    tokens → zero n-grams) — exactly Text.shingles;
  *  - probe position i = 60-bit portable sha256 hash of `"bloom<i>:" +
  *    ngram` mod (64 × words) — exactly Curation.bloomPos;
  *  - an n-gram counts iff ALL numHashes probe bits are set; distinct
  *    n-grams count once (the array_distinct twin).
  *
  * `left` = array<string> tokens; `right` = array<long> bitmap words.
  * `n` and `numHashes` ride the constructor as call-site constants.
  */
case class BloomNgramHits(left: Expression, right: Expression,
                          n: Int, numHashes: Int)
  extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bloom_ngram_hits requires (array<string>, array<long>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  def compute(toks: ArrayData, words: ArrayData): Long = {
    val nT = toks.numElements()
    if (nT < n) return 0L
    val mBits = words.numElements().toLong * 64L
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val seen = new java.util.HashSet[String]()
    var hits = 0L
    var i = 0
    while (i <= nT - n) {
      val sb = new java.lang.StringBuilder()
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks.getUTF8String(i + k).toString)
        k += 1
      }
      val g = sb.toString
      if (seen.add(g)) {
        var hit = true
        var h = 0
        while (hit && h < numHashes) {
          md.reset()
          val dig = md.digest(
            ("bloom" + h + ":" + g).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var v = 0L
          var j = 0
          while (j < 7) { v = (v << 8) | (dig(j) & 0xFFL); j += 1 }
          v = (v << 4) | ((dig(7) & 0xFFL) >>> 4) // 60 bits, always positive
          val p = v % mBits
          if ((words.getLong((p / 64L).toInt) & (1L << (p % 64L).toInt)) == 0L)
            hit = false
          h += 1
        }
        if (hit) hits += 1L
      }
      i += 1
    }
    hits
  }

  override protected def nullSafeEval(toks: Any, words: Any): Any =
    compute(toks.asInstanceOf[ArrayData], words.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomNgramHits", this)
    nullSafeCodeGen(ctx, ev, (t, w) =>
      s"${ev.value} = $ref.compute($t, $w);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomNgramHits =
    copy(left = newLeft, right = newRight)
}
