package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd per-document BPE token statistics under a FIXED merge table:
  * `(n_words, n_chars, n_tokens)` of a word array, with every word
  * segmented by the trained merges in one tight loop.
  *
  * Why custom (the ClsProbFold lesson applied to the tokenizer): the
  * streaming-safe column formulation — `transform` over words, each
  * carrying k let-bound `aggregate` merge folds over its symbol string —
  * is CodegenFallback with O(words × merges × symbols) interpreted lambda
  * evaluations per document; it dominated stream_corpus_tokenize's bench
  * floor (~7 s at sf0.1).
  *
  * Exactness (must land identically to Bpe.tokenStats' column chain and
  * the DuckDB replay):
  *  - initial symbols are the word's CODE POINTS — exactly what the batch
  *    path's `Text.codePointSplit` produces (and what the DuckDB twin's
  *    per-character `word[i]` indexing produces);
  *  - each merge (l, r) is the Sennrich left fold: append each symbol,
  *    except `r` arriving while the accumulated LAST symbol is exactly `l`
  *    replaces that tail with `l+r` — a freshly merged tail (symbol `l+r`)
  *    never re-merges within the round. List surgery here ≡ the column
  *    chain's codepoint string surgery because the removed tail IS the
  *    symbol `l`;
  *  - `n_chars` sums Spark `length()` semantics = codepoints
  *    (UTF8String.numChars), NOT code units.
  *
  * The merge table is a constructor constant (vocabulary-scale, broadcast
  * with the expression); `child` = array<string> words.
  */
case class BpeStats(child: Expression, merges: Seq[(String, String)])
  extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "bpe_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_stats requires array<string>, got ${other.catalogString}")
  }

  def compute(words: ArrayData): InternalRow = {
    val nw = words.numElements()
    var nWords = 0L
    var nChars = 0L
    var nToks = 0L
    var i = 0
    while (i < nw) {
      // containsNull=true inputs are accepted: null words are skipped.
      if (words.isNullAt(i)) { i += 1 }
      else {
      val u = words.getUTF8String(i)
      nChars += u.numChars()
      val w = u.toString
      // initial symbols: one per CODE POINT (never a lone surrogate half —
      // the batch path's Text.codePointSplit and the DuckDB word[i] twin
      // both segment per character)
      var syms = new Array[String](w.codePointCount(0, w.length))
      var c = 0
      var off = 0
      while (off < w.length) {
        val step = Character.charCount(w.codePointAt(off))
        syms(c) = w.substring(off, off + step)
        off += step
        c += 1
      }
      var m = 0
      while (m < merges.length) {
        val (l, r) = merges(m)
        if (syms.length > 1) {
          val out = new java.util.ArrayList[String](syms.length)
          out.add(syms(0))
          var j = 1
          while (j < syms.length) {
            val s = syms(j)
            if (s == r && out.get(out.size - 1) == l)
              out.set(out.size - 1, l + r)
            else out.add(s)
            j += 1
          }
          if (out.size != syms.length)
            syms = out.toArray(new Array[String](out.size))
        }
        m += 1
      }
      nToks += syms.length
      nWords += 1L
      i += 1
      }
    }
    InternalRow(nWords, nChars, nToks)
  }

  override protected def nullSafeEval(words: Any): Any =
    compute(words.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeStats", this)
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = $ref.compute($w);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeStats =
    copy(child = newChild)
}
