package graft

import org.apache.spark.sql.functions._

import graft.operators.Unigram

/** Unigram-LM tokenizer trainer: Viterbi segmentation semantics (integer
  * micro scores, longest-piece tie-break, UNK fallback), the hard-EM
  * trajectory's conservation invariant, and the artifact round trip.
  */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  private def seg(word: String, pieces: Seq[(String, Long)]): Seq[String] = {
    Seq(word).toDF("w").select(Unigram.segment($"w", pieces).as("s"))
      .collect().head.getSeq[String](0)
  }

  test("Viterbi picks the max-probability segmentation") {
    val m = Seq("a" -> -1500000L, "b" -> -1600000L, "ab" -> -2000000L,
      "ba" -> -2500000L)
    // ab+ab = -4.0M beats a+b+a+b = -6.2M and ab+a+b = -5.1M
    assert(seg("abab", m) == Seq("ab", "ab"))
    // ab+a = -3.5M beats a+ba = -4.0M
    assert(seg("aba", m) == Seq("ab", "a"))
  }

  test("equal scores break to the longest piece") {
    // 'xy' scores exactly x+y: the single piece must win the tie
    val m = Seq("x" -> -1000000L, "y" -> -1000000L, "xy" -> -2000000L)
    assert(seg("xy", m) == Seq("xy"))
  }

  test("unknown single characters segment at the UNK penalty") {
    val m = Seq("a" -> -1000000L)
    assert(seg("aza", m) == Seq("a", "z", "a"))
    assert(seg("", m) == Seq.empty)
  }

  test("supplementary-plane characters segment as code points, not units") {
    // U+1F600 (😀) is two UTF-16 units; unit-indexed DP would probe lone
    // surrogates and split the emoji. Known piece containing it must win,
    // and an UNKNOWN emoji must fall back as ONE code point, never a
    // surrogate half.
    val emoji = new String(Character.toChars(0x1F600))
    val m = Seq("a" -> -1000000L, s"a$emoji" -> -1500000L)
    assert(seg(s"a${emoji}a", m) == Seq(s"a$emoji", "a"))
    val unk = new String(Character.toChars(0x1F4A9))
    assert(seg(s"a${unk}a", Seq("a" -> -1000000L)) == Seq("a", unk, "a"))
  }

  test("candidate set: all chars plus capped multi-char pieces") {
    val df = Seq("aaab aaab cd").toDF("text")
    val v0 = Unigram.candidateSet(Unigram.wordFreq(df, "text"))
    val chars = v0.filter(_._1.length == 1).map(_._1).sorted
    assert(chars == Seq("a", "b", "c", "d"))
    // 'aaab' freq 2: substrings aa(x2), aaa, aab, aaab, ab; 'cd' freq 1: cd
    assert(v0.toMap.apply("aa") == 4L) // 2 positions x freq 2
    assert(v0.toMap.apply("cd") == 1L)
  }

  test("EM trajectory conserves total characters every round") {
    val docs = Q(spark).limit(60)
    val model = Unigram.train(docs, "text")
    val vocab = Unigram.wordFreq(docs, "text")
      .select(sum(col("n") * length(col("w"))).cast("long"))
      .collect().head.getLong(0)
    (1 to Unigram.EmRounds).foreach { r =>
      val covered = model.trajectory.collect {
        case (`r`, p, c) => p.length.toLong * c
      }.sum
      assert(covered == vocab,
        s"round $r: best paths must tile every word exactly ($covered != $vocab)")
    }
    // rnd 0 rows = the fixed candidate set; later rounds keep the same keys
    val v0 = model.trajectory.collect { case (0, p, _) => p }.toSet
    (1 to Unigram.EmRounds).foreach { r =>
      assert(model.trajectory.collect { case (`r`, p, _) => p }.toSet == v0)
    }
  }

  test("artifact round trip: save/load identity, encode totals, UNK apply") {
    val docs = Q(spark).limit(60)
    val model = Unigram.train(docs, "text")
    val path = "/tmp/graft_scratch/unigram_spec/tok.json"
    Unigram.saveTokenizer(path, model.pieces)
    assert(Unigram.loadTokenizer(path) == model.pieces.sortBy(_._1))

    val stats = Unigram.encodeStatsWith(docs, "doc_id", "text", model.pieces)
    val direct = docs
      .select(col("doc_id"),
        filter(graft.functions.Text.tokens(col("text")), w => w =!= "")
          .as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
        aggregate(col("ws"), lit(0L), (a, w) => a + length(w).cast("long"))
          .as("n_chars"))
    val bad = stats.as("s").join(direct.as("d"), "doc_id")
      .where(col("s.n_words") =!= col("d.n_words") ||
             col("s.n_chars") =!= col("d.n_chars"))
    assert(bad.isEmpty, "n_words/n_chars must match direct per-doc accounting")
    // pieces never exceed chars, never fewer than words
    assert(stats.where(col("n_pieces") > col("n_chars") ||
      col("n_pieces") < col("n_words")).isEmpty)

    // a corpus with characters the trainer never saw still encodes (UNK)
    val alien = Seq((1L, "zzzq")).toDF("doc_id", "text")
    val enc = Unigram.encodeStatsWith(alien, "doc_id", "text", model.pieces)
      .collect().head
    assert(enc.getLong(1) == 1L && enc.getLong(2) == 4L && enc.getLong(3) == 4L)
  }

  private def Q(s: org.apache.spark.sql.SparkSession) =
    graft.sources.Tables.documents(s, "/root/testdata/sf0.001")
}
