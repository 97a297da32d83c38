package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd PRODUCTION-style WordPiece inference: greedy longest-match
  * ("maximal munch") segmentation of a word array against a FIXED piece
  * vocabulary — the algorithm BERT's WordpieceTokenizer runs at serve
  * time, as opposed to graft's merge-chain replay (WordPieceStats).
  *
  * Returns `(n_words, n_chars, n_tokens, n_unk)`:
  *  - per word, the cursor takes the LONGEST piece in the vocabulary that
  *    prefixes the remainder — head pieces (no marker) at position 0,
  *    `##`-continuation pieces after — and advances;
  *  - a position with NO matching piece makes the WHOLE word one [UNK]
  *    token (the BERT contract), counted in both n_tokens and n_unk;
  *  - all candidate lengths are CODE-POINT aligned (a match may never end
  *    between the halves of a surrogate pair), and n_chars sums code
  *    points (Spark `length()` semantics).
  *
  * Longest-match can land on a DIFFERENT segmentation than replaying the
  * trained merge chain (maximal munch takes a longer head piece and can
  * strand the tail — the classic deviation production WordPiece accepts);
  * the wordpiece_encode_lmm head exists to measure exactly that, with the
  * DuckDB oracle replaying the same greedy walk as a recursive CTE.
  *
  * The piece sets ride the expression like BpeStats' merge table
  * (alphabet + one-new-symbol-per-round bounded — tiny); `cont` pieces
  * are stored WITHOUT the ## marker.
  */
case class WordPieceLmm(child: Expression,
                        headPieces: Seq[String],
                        contPieces: Seq[String])
  extends UnaryExpression {

  @transient private lazy val headSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](headPieces.size * 2)
    headPieces.foreach(s.add)
    s
  }
  @transient private lazy val contSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](contPieces.size * 2)
    contPieces.foreach(s.add)
    s
  }
  @transient private lazy val headMax: Int =
    if (headPieces.isEmpty) 0 else headPieces.map(_.length).max
  @transient private lazy val contMax: Int =
    if (contPieces.isEmpty) 0 else contPieces.map(_.length).max

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_unk", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "wordpiece_lmm"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"wordpiece_lmm requires array<string>, got ${other.catalogString}")
  }

  /** (pieces, unk) of one word under greedy longest-match. */
  private def segmentWord(w: String): (Long, Boolean) = {
    var pos = 0
    var cont = false
    var pieces = 0L
    while (pos < w.length) {
      val (set, cap) = if (cont) (contSet, contMax) else (headSet, headMax)
      var l = math.min(cap, w.length - pos)
      var found = -1
      while (l >= 1 && found < 0) {
        // never end a candidate between surrogate halves
        val boundaryOk = pos + l >= w.length ||
          !Character.isLowSurrogate(w.charAt(pos + l))
        if (boundaryOk && set.contains(w.substring(pos, pos + l))) found = l
        l -= 1
      }
      if (found < 0) return (1L, true) // whole word -> [UNK]
      pieces += 1L
      pos += found
      cont = true
    }
    (pieces, false)
  }

  def compute(words: ArrayData): InternalRow = {
    val nw = words.numElements()
    var nWords = 0L
    var nChars = 0L
    var nToks = 0L
    var nUnk = 0L
    var i = 0
    while (i < nw) {
      if (words.isNullAt(i)) { i += 1 }
      else {
        val u = words.getUTF8String(i)
        nChars += u.numChars()
        val (p, unk) = segmentWord(u.toString)
        nToks += p
        if (unk) nUnk += 1L
        nWords += 1L
        i += 1
      }
    }
    InternalRow(nWords, nChars, nToks, nUnk)
  }

  override protected def nullSafeEval(words: Any): Any =
    compute(words.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordPieceLmm", this)
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = $ref.compute($w);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordPieceLmm =
    copy(child = newChild)
}
