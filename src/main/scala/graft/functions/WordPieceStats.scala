package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd per-document WordPiece token statistics under a FIXED merge
  * table: `(n_words, n_chars, n_tokens)` of a word array, each word
  * segmented by the trained ##-marked merges in one tight loop — the
  * BpeStats discipline applied to the third tokenizer family, so the
  * `tokenize:` corpus step streams under a hydrated WordPiece artifact
  * exactly as it does under a BPE one.
  *
  * Exactness (must land identically to WordPiece.encodeStatsWith's
  * vocabulary-join path — the fold is a pure function of the word, so the
  * per-row and per-distinct-word paths agree; BpeSpec pins the equality):
  *  - initial symbols are the word's CODE POINTS, the FIRST plain and the
  *    rest `##`-marked — exactly WordPiece.initVocab's `substring(w,1,1)`
  *    head + `Text.codePointSplit` marked tail;
  *  - each merge (l, r) is the leftmost, non-overlapping fold with the
  *    WordPiece merge value: the replacement is `l + r-minus-marker`, so
  *    the merged symbol inherits l's position class (WordPiece.merged);
  *  - `n_chars` sums Spark `length()` semantics = codepoints.
  */
case class WordPieceStats(child: Expression, merges: Seq[(String, String)])
  extends UnaryExpression {

  private val Marker = "##"

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "wordpiece_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"wordpiece_stats requires array<string>, got ${other.catalogString}")
  }

  private def merged(l: String, r: String): String =
    l + (if (r.startsWith(Marker)) r.substring(Marker.length) else r)

  def compute(words: ArrayData): InternalRow = {
    val nw = words.numElements()
    var nWords = 0L
    var nChars = 0L
    var nToks = 0L
    var i = 0
    while (i < nw) {
      if (words.isNullAt(i)) { i += 1 }
      else {
        val u = words.getUTF8String(i)
        nChars += u.numChars()
        val w = u.toString
        // initial symbols: first CODE POINT plain, the rest ##-marked code
        // points (never lone surrogate halves — WordPiece.initVocab's
        // substring head + Text.codePointSplit tail both segment per
        // character, as does the DuckDB twin's word[j] indexing)
        var syms = new Array[String](w.codePointCount(0, w.length))
        var c = 0
        var off = 0
        while (off < w.length) {
          val step = Character.charCount(w.codePointAt(off))
          val cp = w.substring(off, off + step)
          syms(c) = if (c == 0) cp else Marker + cp
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
                out.set(out.size - 1, merged(l, r))
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
    val ref = ctx.addReferenceObj("wordPieceStats", this)
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = $ref.compute($w);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordPieceStats =
    copy(child = newChild)
}
