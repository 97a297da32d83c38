package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd skip-window co-occurrence pairs as DICTIONARY-ENCODED packed
  * longs: for a token array, every unordered (distance 1, distance 2)
  * pair emitted as one 8-byte key `min_id << 32 | max_id` under a fixed
  * token → int dictionary.
  *
  * Why (r14 verdict ask #1 — the line_dedup lesson generalized): the
  * corpus-scale pair aggregate is the whole cost of cooccurrence_ppmi,
  * and its shuffle key was a concatenated token STRING (~15+ bytes, one
  * concat allocation per pair). A single long is the binary-comparable
  * fixed-width key the aggregate's unsafe hash map is best at; the
  * string dictionary joins back only onto the CoocMin-bounded survivors.
  *
  * Exactness: pair IDENTITY is order-insensitive either way — the string
  * key canonicalized lexicographically, the packed key canonicalizes by
  * id — so per-key counts are equal, and the decode join re-derives the
  * lexicographic (w1, w2) orientation the oracle emits.
  *
  * The dictionary is vocabulary-bounded and rides the expression exactly
  * like BpeStats' merge table; the map is keyed by UTF8String so the hot
  * loop probes with ZERO per-token String allocation. Every token of the
  * input corpus MUST be present (the dictionary is aggregated from the
  * same checkpointed token arrays) — a miss throws rather than silently
  * dropping pairs.
  */
case class PackedSkipPairs(child: Expression, vocab: IndexedSeq[String])
  extends UnaryExpression {

  require(vocab.length.toLong <= (1L << 31),
    s"packed_skip_pairs: vocabulary ${vocab.length} exceeds the 32-bit id space")

  @transient private lazy val idOf: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](vocab.length * 2)
    var i = 0
    while (i < vocab.length) {
      m.put(UTF8String.fromString(vocab(i)), Integer.valueOf(i))
      i += 1
    }
    m
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "packed_skip_pairs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"packed_skip_pairs requires array<string>, got ${other.catalogString}")
  }

  private def pack(a: Int, b: Int): Long = {
    val lo = if (a <= b) a else b
    val hi = if (a <= b) b else a
    (lo.toLong << 32) | (hi.toLong & 0xffffffffL)
  }

  def compute(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val ids = new Array[Int](n)
    var i = 0
    while (i < n) {
      val t = words.getUTF8String(i)
      val id = idOf.get(t)
      if (id == null)
        throw new IllegalStateException(
          s"packed_skip_pairs: token '$t' missing from the dictionary — " +
            "the dictionary must be aggregated from the same token arrays")
      ids(i) = id.intValue()
      i += 1
    }
    val m1 = if (n >= 2) n - 1 else 0
    val m2 = if (n >= 3) n - 2 else 0
    val out = new Array[Long](m1 + m2)
    var j = 0
    while (j < m1) { out(j) = pack(ids(j), ids(j + 1)); j += 1 }
    var k = 0
    while (k < m2) { out(m1 + k) = pack(ids(k), ids(k + 2)); k += 1 }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(words: Any): Any =
    compute(words.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("packedSkipPairs", this)
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = $ref.compute($w);")
  }

  override protected def withNewChildInternal(newChild: Expression): PackedSkipPairs =
    copy(child = newChild)
}
