package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd hot-path expressions for the minhash pipelines.
  *
  * Why custom Catalyst expressions: the same logic written with built-in
  * higher-order functions (`transform(sequence(...), concat_ws(element_at×n))`
  * for shingles, 64 × `array_min(transform(...))` for the signature) is
  * CodegenFallback — every element of every array goes through interpreted
  * expression evaluation. On a 5k-doc corpus that is ~13s of the
  * dedup_cluster plan; these two expressions do the identical work in tight
  * loops (~0.5s). Spec-proven equal to the HOF forms (TextDedupSpec), and
  * the DuckDB oracle reproduces both stage for stage, so the rewrite is
  * correctness-gated from two directions.
  */

/** Distinct space-joined word n-grams of a token array, first-occurrence
  * order — equals `array_distinct(transform(seq, i -> concat_ws(' ', ...)))`
  * for arrays with ≥ n tokens, and the oracle's
  * `list_distinct([...generate_series(1, greatest(len-n+1, 0))])` for all.
  */
case class ShingleJoin(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_join requires array<string>, got ${other.catalogString}")
  }

  def compute(input: ArrayData): ArrayData = {
    val len = input.numElements()
    val out = new java.util.LinkedHashSet[UTF8String]()
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i + n <= len) {
      val parts = new Array[UTF8String](n)
      var k = 0
      while (k < n) { parts(k) = input.getUTF8String(i + k); k += 1 }
      out.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[AnyRef]])
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleJoin", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleJoin =
    copy(child = newChild)
}

/** Portable 60-bit hash of every element of a string array, optionally
  * reduced mod `m` — equals `transform(arr, x -> pmod(portable_hash(x), m))`
  * where portable_hash = `conv(substr(sha2(x, 256), 1, 15), 16, 10)`:
  * the first 15 hex chars of sha256 are exactly the first 60 bits of the
  * digest, read here straight from the digest bytes (no hex round-trip).
  */
case class PortableHashArr(child: Expression, mod: Long) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"portable_hash_arr requires array<string>, got ${other.catalogString}")
  }

  def compute(input: ArrayData): ArrayData = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val len = input.numElements()
    val out = new Array[Long](len)
    var i = 0
    while (i < len) {
      md.reset()
      val dig = md.digest(input.getUTF8String(i).getBytes)
      var h = 0L
      var j = 0
      while (j < 7) { h = (h << 8) | (dig(j) & 0xFFL); j += 1 }
      h = (h << 4) | ((dig(7) & 0xFFL) >>> 4) // 60 bits, always positive
      out(i) = if (mod > 0) h % mod else h
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("portableHashArr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PortableHashArr =
    copy(child = newChild)
}

/** LSH band keys of a minhash signature: fold each of `bands` consecutive
  * `rowsPerBand`-slices into one bucket key with `acc*31 + h mod prime` —
  * equals `transform(sequence(0, bands-1), b -> aggregate(slice(sig, ...),
  * 0L, (acc,h) -> (acc*31+h) % prime))` (CodegenFallback) in a tight loop.
  * NULL signature elements (empty-shingle docs) poison their band to NULL,
  * exactly like the HOF fold.
  */
case class BandFold(child: Expression, bands: Int, rowsPerBand: Int,
                    prime: Long) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"band_fold requires array<bigint>, got ${other.catalogString}")
  }

  def compute(input: ArrayData): ArrayData = {
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var acc = 0L
      var poisoned = false
      var i = b * rowsPerBand
      val end = math.min(i + rowsPerBand, input.numElements())
      while (i < end && !poisoned) {
        if (input.isNullAt(i)) poisoned = true
        else { acc = (acc * 31L + input.getLong(i)) % prime; i += 1 }
      }
      out(b) = if (poisoned) null else java.lang.Long.valueOf(acc)
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bandFold", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BandFold =
    copy(child = newChild)
}

/** MinHash signature of a base-hash array: for each permutation p,
  * sig[p] = min((h * a_p + b_p) mod prime) — equals
  * `array(array_min(transform(hs, h -> pmod(h*a+b, prime))) × numPerm)`,
  * including the empty-array case (all-NULL signature). No overflow:
  * h, a < 2^31 so h*a+b < 2^62.
  */
case class MinhashSig(child: Expression, as: Array[Long], bs: Array[Long],
                      prime: Long) extends UnaryExpression {

  require(as.length == bs.length && as.nonEmpty, "perm params must align")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<bigint>, got ${other.catalogString}")
  }

  def compute(input: ArrayData): ArrayData = {
    val len = input.numElements()
    val numPerm = as.length
    if (len == 0) return new GenericArrayData(new Array[Any](numPerm))
    val sig = Array.fill(numPerm)(Long.MaxValue)
    var i = 0
    while (i < len) {
      val h = input.getLong(i)
      var p = 0
      while (p < numPerm) {
        val v = (h * as(p) + bs(p)) % prime
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSig", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

object MinhashSig {
  /** Signature over the universal hash family `params` = (a, b) pairs. */
  def apply(child: Expression, params: Seq[(Long, Long)],
            prime: Long): MinhashSig =
    MinhashSig(child, params.map(_._1).toArray, params.map(_._2).toArray, prime)
}
