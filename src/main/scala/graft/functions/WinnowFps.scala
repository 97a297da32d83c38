package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
  * polynomial hashes of the k-byte grams (base 31 mod 1e9+7 — the PolyHash
  * chain), minimum per window of `w` consecutive gram hashes, distinct.
  *
  * Why a custom Catalyst expression: the same chain as built-in
  * higher-order functions builds two intermediate arrays per row, and
  * CollapseProject inlines each array into every downstream element access
  * — O(n²·k) interpreted work per row (observed: minutes for 500 docs).
  * This expression is one tight O(n·k) byte loop plus an O(n) monotone-
  * deque sliding minimum, called from whole-stage codegen.
  *
  * Byte-wise == char-wise for ASCII corpora (the doc_fingerprint
  * equivalence); the caller lowercases upstream.
  */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  require(k >= 2 && w >= 1, s"winnow_fps: need k >= 2, w >= 1, got k=$k w=$w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"winnow_fps requires a string argument, got ${child.dataType.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    WinnowFps.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowFps.compute($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

object WinnowFps {

  val HashMod: Long = 1000000007L
  val HashBase: Long = 31L

  /** One pass: gram hashes (recomputed per gram — k is small and the exact
    * fold order is the oracle contract), sliding minimum via a monotone
    * index deque, first-occurrence-distinct via a hash set.
    */
  def compute(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val m = bytes.length - k + 1 // gram count
    if (m < 1) return new GenericArrayData(Array.empty[Long])
    val gh = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var j = 0
      while (j < k) {
        acc = (acc * HashBase + (bytes(i + j) & 0xFFL)) % HashMod
        j += 1
      }
      gh(i) = acc
      i += 1
    }
    val nw = m - w + 1 // window count
    if (nw < 1) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    // monotone deque of gram indices; head = index of current window min
    val deque = new Array[Int](m)
    var head = 0
    var tail = 0 // exclusive
    i = 0
    while (i < m) {
      while (tail > head && gh(deque(tail - 1)) >= gh(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) seen.add(gh(deque(head)))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }
}
