package graft

import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Bpe, WordPiece}

/** Supplementary-plane (surrogate-pair) segmentation: every tokenizer
  * path — the batch vocabulary join, the column fold, and the codegen'd
  * per-row expressions — must treat an emoji as ONE symbol (one code
  * point), matching Spark `length()` semantics and the DuckDB oracle's
  * per-character `word[i]` indexing. Pins the r14-advice fix: the
  * code-unit `split(w, "(?!^)(?!$)")` both cut surrogate pairs in half
  * AND mangled the halves to `?` through the UTF8String round trip.
  */
class TokenizerCodePointSpec extends SparkSpec {
  import spark.implicits._

  private val emoji = new String(Character.toChars(0x1F600))

  test("codePointSplit keeps surrogate pairs whole") {
    val parts = Seq("a" + emoji + "b").toDF("w")
      .select(Text.codePointSplit(col("w")).as("p"))
      .collect()(0).getSeq[String](0)
    assert(parts == Seq("a", emoji, "b"))
  }

  test("bpe: emoji words land identically on all three encode paths") {
    // train where (a, emoji) can win a round — the emoji must be one
    // trainable symbol, and the merged symbol "a<emoji>" must fold
    // correctly through the code-point substr trim in applyMerge
    val train = Seq((1L, s"a$emoji a$emoji a${emoji}b ab"))
      .toDF("doc_id", "text")
    val merges = Bpe.merges(train, "text", rounds = 2)
    assert(merges.exists { case (_, l, r, _) => l == "a" && r == emoji })
    val docs = Seq((1L, s"a${emoji}b $emoji"), (2L, "ab"), (3L, ""))
      .toDF("doc_id", "text")
    def stats(c: org.apache.spark.sql.Column) = docs
      .withColumn("s", c)
      .select(col("doc_id"), col("s.n_words"), col("s.n_chars"),
        col("s.n_tokens"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val ref = stats(Bpe.tokenStats(col("text"), merges))
    val fast = stats(Bpe.tokenStatsFast(col("text"), merges))
    val joined = Bpe.encodeStatsWith(docs, "doc_id", "text", merges)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(fast == ref, s"fast $fast vs column fold $ref")
    assert(joined.forall { case (id, s) => ref(id) == s },
      s"join $joined vs column fold $ref")
    // n_chars counts code points: "a😀b" = 3, "😀" = 1
    assert(ref(1L)._2 == 4L)
    // after (a,😀) merged: [a😀, b] + [😀] = 3 tokens
    assert(ref(1L)._3 <= 3L)
  }

  test("wordpiece: emoji-LEADING word agrees between fold and join") {
    // the old code-unit paths disagreed here even with zero applicable
    // merges: substring(w,1,1) took the whole emoji (code point) while
    // the split tail re-cut per code unit — 4 symbols vs 3
    val train = Seq((1L, s"${emoji}ab ${emoji}ab xy")).toDF("doc_id", "text")
    val model = WordPiece.train(train, "text", 2)
    val apply = Seq((10L, s"${emoji}ab ${emoji}zz qq"), (11L, s"$emoji"))
      .toDF("doc_id", "text")
    val joined = WordPiece.encodeStatsWith(apply, "doc_id", "text", model.merges)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val perRow = apply.select(col("doc_id"),
        WordPiece.tokenStatsFast(col("text"), model.merges).as("s"))
      .select(col("doc_id"), col("s.n_words"), col("s.n_chars"),
        col("s.n_tokens"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(perRow == joined, s"per-row $perRow vs join $joined")
    // a lone emoji is one word, one char, one token on both paths
    assert(perRow(11L) == ((1L, 1L, 1L)))
  }
}
